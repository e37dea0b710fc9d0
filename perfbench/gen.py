"""Seeded input generators for the three workloads.

Everything here is plain Python and NumPy: the generators do no
Spark work, so the system under test sees only finished inputs. Each
generator also keeps the state a correct pipeline must end in, which
the workload's output check compares against.
"""

from __future__ import annotations

import hashlib

import numpy as np

# CONNECT_DML_TEST(p_start, p_end, upd_mod, sleep_mod), the reference's
# mixed-DML procedure (BASELINE.md; FIXTURES.md F6): iteration i inserts
# row i; when i % upd_mod == 0 it also updates row i and deletes row
# i - 1; every sleep_mod-th iteration it sleeps one second. The
# reference's largest run is CONNECT_DML_TEST(0, 5000, 100, 100).
UPD_MOD = 100
SLEEP_MOD = 100


def salt(seed: int, key: int, version: int) -> str:
    """Seeded row content: 8 hex digits of sha256("seed:key:version")."""
    return hashlib.sha256(f"{seed}:{key}:{version}".encode()).hexdigest()[:8]


def customer_email(key: int) -> str:
    return f"user{key}@example.com"


def customer_name(seed: int, key: int, version: int) -> str:
    return f"name-{key}-v{version}-{salt(seed, key, version)}"


class DmlTest:
    """CONNECT_DML_TEST over one keyed table, as a Debezium change stream.

    ``changes(n)`` runs the next ``n`` iterations and returns their
    changes in commit order; per iteration i that is insert i, then on
    every ``UPD_MOD``-th iteration update i and delete i - 1 (no change
    when row i - 1 was never inserted). The mix is about 98/1/1. The
    seed picks ``p_start`` (a multiple of ``UPD_MOD``) and, through
    ``salt``, the row content; keys follow from the iteration numbers.

    Row values derive from (seed, key, version), so the expected final
    table is just ``self.version``: live key -> current version.
    """

    def __init__(self, seed: int):
        self.seed = seed
        self.next_i = UPD_MOD * (1 + seed % 10_000)
        self.first = self.next_i
        self.version: dict[int, int] = {}

    def snapshot(self, n_rows: int) -> dict[str, np.ndarray]:
        """Rows already in the table when capture starts, emitted as
        Debezium snapshot reads: ``n_rows`` iterations' inserts."""
        keys = np.arange(self.next_i, self.next_i + n_rows, dtype=np.int64)
        self.next_i += n_rows
        self.version.update(dict.fromkeys(keys.tolist(), 1))
        return {
            "key": keys,
            "op": np.full(n_rows, "r"),
            "before": np.zeros(n_rows, dtype=np.int64),
            "after": np.ones(n_rows, dtype=np.int64),
        }

    def changes(self, n_iter: int) -> dict[str, np.ndarray]:
        """The next ``n_iter`` iterations' changes in commit order.
        ``before``/``after`` hold the row version on each side of the
        change (0 = no row)."""
        it = np.arange(self.next_i, self.next_i + n_iter, dtype=np.int64)
        self.next_i += n_iter
        upd = it[it % UPD_MOD == 0]
        # row i - 1 exists unless i is the first iteration; it is never
        # an update iteration itself, so it is at version 1
        dele = upd[upd > self.first] - 1
        n_i, n_u, n_d = len(it), len(upd), len(dele)
        key = np.concatenate([it, upd, dele])
        # commit order: by iteration, then insert, update, delete
        iteration = np.concatenate([it, upd, dele + 1])
        step = np.repeat([0, 1, 2], [n_i, n_u, n_d])
        order = np.lexsort((step, iteration))
        op = np.repeat(["c", "u", "d"], [n_i, n_u, n_d])
        before = np.repeat(np.array([0, 1, 1], dtype=np.int64), [n_i, n_u, n_d])
        after = np.repeat(np.array([1, 2, 0], dtype=np.int64), [n_i, n_u, n_d])
        self.version.update(dict.fromkeys(it.tolist(), 1))
        self.version.update(dict.fromkeys(upd.tolist(), 2))
        for k in dele.tolist():
            del self.version[k]
        return {"key": key[order], "op": op[order], "before": before[order], "after": after[order]}


# --------------------------------------------------------------------------
# documents for the dedup-ingest workload
# --------------------------------------------------------------------------

VOCAB_SIZE = 2000
_SYLLABLES = [
    "ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "va",
    "zu", "bo", "ci", "fe", "gu", "ha", "ji", "ku", "ly", "mo",
]


def _vocab() -> list[str]:
    # 20^3 three-syllable words; the first VOCAB_SIZE in a fixed order
    words = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES]
    return words[:VOCAB_SIZE]


def _respace(text: str, rng: np.random.Generator) -> str:
    """Same tokens, different whitespace: the shingler splits on runs
    of whitespace and trims, so the copy's shingle set is identical
    and its Jaccard similarity to the original is exactly 1."""
    seps = rng.choice(["  ", " \t ", "   "], size=text.count(" "))
    toks = text.split(" ")
    out = [toks[0]]
    for sep, tok in zip(seps, toks[1:]):
        out.append(sep)
        out.append(tok)
    return " " + "".join(out) + "  "


class DocumentSet:
    """A standing corpus plus arriving batches for the dedup workload.

    Base documents are 10-100 words drawn uniformly from a 2000-word
    vocabulary, so two base documents share almost no word 3-shingles
    and none reaches the 0.2 Jaccard threshold. Planted duplicates copy
    a base document's tokens with different whitespace (Jaccard 1), so
    LSH banding finds every one whatever the hash draws. A correct
    pipeline therefore keeps exactly the base documents and drops
    exactly the planted ones.

    ``n_docs`` base ids 0..n_docs-1: ids with id % 10 >= 3 form the
    standing corpus; the rest arrive in batches. Planted duplicates take
    ids from n_docs upward, so the original always has the lower id
    (the SMT keeps the lowest id among same-batch mates), and copy one
    of: a standing-corpus document, a document of an earlier batch, or
    a document of the same batch.
    """

    def __init__(self, seed: int, n_docs: int, n_batches: int, batch_docs: int,
                 dup_share: float = 0.1):
        rng = np.random.default_rng(seed)
        vocab = np.array(_vocab())
        lengths = rng.integers(10, 101, size=n_docs)
        self.text = {
            i: " ".join(vocab[rng.integers(0, VOCAB_SIZE, size=n)])
            for i, n in enumerate(lengths)
        }
        ids = np.arange(n_docs)
        self.corpus_ids = ids[ids % 10 >= 3]
        arriving = rng.permutation(ids[ids % 10 < 3])
        n_base = int(round(batch_docs * (1 - dup_share)))
        n_dup = batch_docs - n_base
        if n_batches * n_base > len(arriving):
            raise ValueError("not enough arriving documents for the batch plan")
        self.batches: list[list[tuple[int, str]]] = []
        self.planted: list[int] = []
        next_id = n_docs
        earlier: list[int] = []
        for f in range(n_batches):
            base = [int(i) for i in arriving[f * n_base:(f + 1) * n_base]]
            rows = [(i, self.text[i]) for i in base]
            for j in range(n_dup):
                pool = (self.corpus_ids, earlier or base, base)[j % 3]
                orig = int(pool[rng.integers(0, len(pool))])
                rows.append((next_id, _respace(self.text[orig], rng)))
                self.planted.append(next_id)
                next_id += 1
            order = rng.permutation(len(rows))
            self.batches.append([rows[k] for k in order])
            earlier.extend(base)

    def corpus_rows(self) -> list[tuple[int, str]]:
        return [(int(i), self.text[int(i)]) for i in self.corpus_ids]

    def expected_survivors(self, n_batches: int) -> list[int]:
        planted = set(self.planted)
        return sorted(
            i for rows in self.batches[:n_batches] for i, _ in rows if i not in planted
        )


def id_digest(ids) -> str:
    """sha256 of the sorted ids, one per line."""
    text = "\n".join(str(int(i)) for i in sorted(ids))
    return hashlib.sha256(text.encode()).hexdigest()


# --------------------------------------------------------------------------
# source tables for the JDBC-poll workload (FIXTURES.md F1, JDBC variant)
# --------------------------------------------------------------------------

ORDER_STATUSES = ("NEW", "PAID", "PACKED", "SHIPPED", "DELIVERED")
TRICKLE_COLUMNS = {
    "customers": ("customer_id", "email_address", "full_name", "system_upd"),
    "orders": (
        "order_id", "order_datetime", "customer_id", "order_status",
        "store_id", "system_upd",
    ),
}
TRICKLE_KEYS = {"customers": "customer_id", "orders": "order_id"}
_ORDER_EPOCH_MS = 1_600_000_000_000


class TrickleTables:
    """The ``customers`` and ``orders`` tables a JDBC source polls.

    ``commit(now_ms, n_iter)`` runs the next ``n_iter`` CONNECT_DML_TEST
    iterations as one transaction: each inserts one row into each
    table, and every ``UPD_MOD``-th also updates that row, bumping
    ``system_upd``. The procedure's deletes are left out: a
    timestamp+incrementing JDBC source cannot observe a delete. Every
    row a commit writes carries the commit's ``system_upd``, which
    strictly increases within a table, as a commit clock would. Rows
    are tuples in ``TRICKLE_COLUMNS`` order, with timestamps as epoch
    milliseconds (the Avro converter carries timestamp-millis); the
    seed picks their content through ``salt``.
    """

    def __init__(self, seed: int, n_customers: int, n_orders: int):
        self.seed = seed
        self.rows: dict[str, dict[int, tuple]] = {t: {} for t in TRICKLE_COLUMNS}
        self.last_stamp = {t: 0 for t in TRICKLE_COLUMNS}
        self.iteration = 1
        for t, n in (("customers", n_customers), ("orders", n_orders)):
            for _ in range(n):
                self._write(t, len(self.rows[t]) + 1, 1, _ORDER_EPOCH_MS)

    def _row(self, table: str, key: int, version: int, stamp: int) -> tuple:
        if table == "customers":
            return (key, customer_email(key), customer_name(self.seed, key, version), stamp)
        n_cust = len(self.rows["customers"])
        return (
            key,
            _ORDER_EPOCH_MS + key * 1000,
            1 + (key * 7919) % max(n_cust, 1),
            ORDER_STATUSES[(version - 1) % len(ORDER_STATUSES)],
            1 + int(salt(self.seed, key, version), 16) % 50,
            stamp,
        )

    def _write(self, table: str, key: int, version: int, stamp: int) -> None:
        self.rows[table][key] = self._row(table, key, version, stamp)

    def commit(self, now_ms: int, n_iter: int) -> list[tuple[str, int, int]]:
        """Apply ``n_iter`` iterations as one commit; returns one
        (table, key, system_upd) per row the commit leaves changed."""
        stamps = {}
        for t in TRICKLE_COLUMNS:
            stamps[t] = max(now_ms, self.last_stamp[t] + 1)
            self.last_stamp[t] = stamps[t]
        out = []
        for _ in range(n_iter):
            for t in TRICKLE_COLUMNS:
                key = len(self.rows[t]) + 1
                version = 2 if self.iteration % UPD_MOD == 0 else 1
                self._write(t, key, version, stamps[t])
                out.append((t, key, stamps[t]))
            self.iteration += 1
        return out

    def columns(self, table: str) -> list[list]:
        """The table as column lists, in ``TRICKLE_COLUMNS`` order."""
        rows = list(self.rows[table].values())
        return [list(c) for c in zip(*rows)]
