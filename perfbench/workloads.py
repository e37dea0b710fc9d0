"""The three workloads, each driving the real ``Engine`` lifecycle.

A workload object goes through: ``setup`` (timed, repeated
``setup_repeats`` times; only the last one is kept), ``warmup``
(untimed), ``measure`` (the timed section: at least the given number
of seconds, and for the closed workloads at least a minimum number of
units) and ``check`` (output correctness). ``measure`` fills
``self.cycles`` with one entry per ``run_once`` call and
``self.freshness_ms`` with one sample per source row version;
``throughput`` returns records delivered per timed second: for the
closed workloads the median over their units (one drain or batch
each) of records ÷ time in ``run_once``. A
``run_once`` that raises is recorded in ``self.errors`` and ends the
timed section; the engine has then marked the pipeline FAILED.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import glob
import json
import os
import sqlite3
import statistics
import threading
import time

import numpy as np

import gen


def _now_ms() -> int:
    return int(time.time() * 1000)


class Workload:
    name = ""
    topics: list[str] = []
    setup_repeats = 3

    def __init__(self, spark, seed: int, tracer=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.eng = None
        self.cycles: list[dict] = []
        self.freshness_ms: list[float] = []
        self.attempted = 0
        self.records_in = 0  # records the source pipelines read during measure
        self.timed_seconds = 0.0
        self.timed_records = 0
        self.unit_rates: list[float] = []
        self.errors: list[str] = []

    avro = False  # output topics carry Avro frames

    def prepare(self) -> None:
        """Generate inputs that setup needs (untimed)."""

    def reset_measure(self) -> None:
        """Forget the last timed section, keeping pipelines and state."""
        self.cycles = []
        self.freshness_ms = []
        self.records_in = 0
        self.timed_seconds = 0.0
        self.timed_records = 0
        self.unit_rates = []

    def span(self, name: str, **counts):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **counts)

    def run_once(self, pipeline: str) -> dict:
        """One ``Engine.run_once(pipeline)``, timed, recorded as a cycle.
        After a failure it runs nothing and returns an empty dict."""
        if self.errors:
            return {}
        t0 = time.time()
        with self.span("engine.run_once", pipeline=pipeline):
            try:
                moved = self.eng.run_once(pipeline)
            except Exception as e:  # the engine marks the pipeline FAILED
                self.errors.append(f"{pipeline}: {type(e).__name__}: {e}")
                return {}
        t1 = time.time()
        self.cycles.append({"pipeline": pipeline, "start": t0, "end": t1})
        return moved

    def engine(self, d: str, **kw):
        from kafkaconnect_spark.streaming.engine import Engine

        return Engine(
            self.spark, servers=f"file://{d}/topics", checkpoint_root=f"{d}/ckpt", **kw
        )

    def throughput(self) -> float:
        if self.unit_rates:
            return statistics.median(self.unit_rates)
        return self.timed_records / self.timed_seconds if self.timed_seconds else 0.0

    def pipeline_failures(self) -> list[str]:
        return [n for n, p in self.eng.pipelines.items() if p.state == "FAILED"]


# --------------------------------------------------------------------------
# cdc_backlog
# --------------------------------------------------------------------------

CDC_ROW_DDL = "customer_id int, email_address string, full_name string"
RAW_TOPIC = "om.customers.raw"
FLAT_TOPIC = "om-customers-flat"


class CdcBacklog(Workload):
    """Closed batch: a backlog of CONNECT_DML_TEST changes as Debezium
    envelopes on a 3-partition raw topic, drained by one ``run_once``
    of the unwrap+route ingest and one of the keyed upsert/delete JDBC
    sink into sqlite."""

    name = "cdc_backlog"
    topics = [FLAT_TOPIC]
    SNAPSHOT_ROWS = 500
    UNIT_ITERATIONS = 20_000

    def setup(self, d: str) -> None:
        self.db = f"{d}/sink.db"
        url = "jdbc:sqlite:" + self.db
        eng = self.engine(d, connection_factories={url: functools.partial(sqlite3.connect, self.db)})
        eng.transport.create_topic(RAW_TOPIC, 3)
        eng.transport.create_topic(FLAT_TOPIC, 3)
        eng.register({
            "name": "cdc_ingest",
            "config": {
                "connector.class": "io.debezium.connector.mysql.MySqlConnector",
                "cdc.topic.pattern": RAW_TOPIC,
                "value.schema.ddl": CDC_ROW_DDL,
                "transforms": "unwrap, route",
                "transforms.unwrap.type": "io.debezium.transforms.ExtractNewRecordState",
                "transforms.unwrap.drop.tombstones": "false",
                "transforms.route.type": "org.apache.kafka.connect.transforms.RegexRouter",
                "transforms.route.regex": "(.*)\\.(.*)\\.raw",
                "transforms.route.replacement": "$1-$2-flat",
            },
        })
        eng.register({
            "name": "cdc_sink",
            "config": {
                "connector.class": "io.confluent.connect.jdbc.JdbcSinkConnector",
                "topics": FLAT_TOPIC,
                "connection.url": url,
                "insert.mode": "upsert",
                "pk.mode": "record_key",
                "pk.fields": "customer_id",
                "delete.enabled": "true",
                "table.name.format": "customers_sink",
                "value.schema.ddl": CDC_ROW_DDL,
                "value.converter.schemas.enable": "false",
            },
        })
        self.eng = eng
        self.gen = gen.DmlTest(self.seed)

    def publish(self, ch: dict) -> float:
        """Put the changes on the raw topic as Debezium JSON envelopes;
        returns the commit stamp (epoch s) the records carry."""
        import pandas as pd
        from pyspark.sql import functions as F

        from kafkaconnect_spark.functions.serde import json_serialize

        stamp = time.time()
        pdf = pd.DataFrame({
            "k": ch["key"].astype("int32"),
            "op": ch["op"],
            "bv": ch["before"],
            "av": ch["after"],
        })
        df = self.spark.createDataFrame(pdf)

        def row(ver):
            # gen.customer_email / gen.customer_name, in Spark
            salt = F.substring(F.sha2(F.concat_ws(
                ":", F.lit(str(self.seed)), F.col("k").cast("string"), F.col(ver).cast("string"),
            ), 256), 1, 8)
            return F.struct(
                F.col("k").alias("customer_id"),
                F.concat(F.lit("user"), F.col("k"), F.lit("@example.com")).alias("email_address"),
                F.concat(F.lit("name-"), F.col("k"), F.lit("-v"), F.col(ver), F.lit("-"), salt)
                .alias("full_name"),
            )

        ts = F.lit(int(stamp * 1000)).cast("long")
        env = F.struct(
            F.when(F.col("bv") > 0, row("bv")).alias("before"),
            F.when(F.col("av") > 0, row("av")).alias("after"),
            F.struct(
                F.lit("mysql").alias("connector"), F.lit("om").alias("db"),
                F.lit("customers").alias("table"), ts.alias("ts_ms"),
            ).alias("source"),
            F.col("op"),
            ts.alias("ts_ms"),
        )
        framed = df.select(F.col("k"), env.alias("value"))
        wire = framed.select(
            F.to_json(F.struct(F.col("k").alias("customer_id"))).alias("key"),
            json_serialize("value", framed.schema["value"].dataType, schemas_enable=False).alias("value"),
            F.lit(RAW_TOPIC).alias("topic"),
        )
        with self.span("bench.publish"):
            self.eng.transport.append(wire)
        self.attempted += len(pdf)
        return time.time()

    def drain(self) -> tuple[float, float]:
        t0 = time.time()
        self.run_once("cdc_ingest")
        self.run_once("cdc_sink")
        return t0, time.time()

    def warmup(self) -> None:
        # one unit-sized drain that runs every path: snapshot reads, then
        # inserts, updates and deletes on top of them
        snap, ch = self.gen.snapshot(self.SNAPSHOT_ROWS), self.gen.changes(self.UNIT_ITERATIONS)
        self.publish({k: np.concatenate([snap[k], ch[k]]) for k in snap})
        self.drain()
        # the fixed cost of a drain keeps falling over the first dozens
        # of queries as the JVM compiles the planner, most steeply from
        # the second drain to the third; one more small drain starts the
        # timed units where that curve is flatter
        self.publish(self.gen.changes(self.UNIT_ITERATIONS // 10))
        self.drain()

    def measure(self, seconds: float) -> None:
        self.cycles.clear()
        units = []
        start = time.time()
        # --seconds counts the whole loop, publishing included; at least
        # two units
        while (time.time() - start < seconds or len(units) < 2) and not self.errors:
            ch = self.gen.changes(self.UNIT_ITERATIONS)
            committed = self.publish(ch)
            t0, t1 = self.drain()
            self.timed_seconds += t1 - t0
            self.timed_records += len(ch["key"])
            self.unit_rates.append(len(ch["key"]) / (t1 - t0))
            # one sample per version a reader can see: the last change
            # of each key in the backlog (an upsert or a delete)
            visible = len(np.unique(ch["key"]))
            self.freshness_ms.extend([(t1 - committed) * 1000] * visible)
            units.append({"ops": len(ch["key"]), "drain_s": t1 - t0})
        self.records_in = self.timed_records
        self.units = units

    def check(self) -> tuple[int, list[str]]:
        with sqlite3.connect(self.db) as c:
            got = {r[0]: (r[1], r[2]) for r in c.execute(
                "SELECT customer_id, email_address, full_name FROM customers_sink")}
        want = {
            k: (gen.customer_email(k), gen.customer_name(self.seed, k, v))
            for k, v in self.gen.version.items()
        }
        wrong = sum(1 for k, v in want.items() if got.get(k) != v)
        extra = sum(1 for k in got if k not in want)
        notes = []
        if wrong or extra:
            notes.append(f"sink parity: {wrong} keys wrong or missing, {extra} deleted keys present")
        return wrong + extra, notes


# --------------------------------------------------------------------------
# source tables that JDBC sources poll
# --------------------------------------------------------------------------

REGISTRY = "registry.json"


class SnapshotTables:
    """Tables a JDBC source reads through the engine's ``table_resolver``.
    A commit writes the whole table as a new parquet snapshot, then
    atomically points ``CURRENT`` at it: a reader sees one commit or
    the next, never a partial file."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self.seq = 0

    def publish(self, table: str, columns: dict) -> None:
        """``columns``: name -> pyarrow array, in table order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.seq += 1
        tdir = f"{self.root}/{table}"
        os.makedirs(tdir, exist_ok=True)
        name = f"snap-{self.seq:08d}.parquet"
        pq.write_table(pa.table(columns), f"{tdir}/{name}.tmp")
        os.replace(f"{tdir}/{name}.tmp", f"{tdir}/{name}")
        with open(f"{tdir}/CURRENT.tmp", "w") as f:
            f.write(name)
        os.replace(f"{tdir}/CURRENT.tmp", f"{tdir}/CURRENT")

    def resolve(self, table: str):
        tdir = f"{self.root}/{table}"
        with open(f"{tdir}/CURRENT") as f:
            return self.spark.read.parquet(f"{tdir}/{f.read().strip()}")


def jdbc_source(name: str, table: str, key: str, registry: str, transforms: dict) -> dict:
    """A timestamp+incrementing JDBC source on ``AvroConverter`` whose
    records are keyed by ``key``; ``transforms`` run before the keying."""
    names = list(transforms) + ["create_key", "extract_key"]
    config = {
        "connector.class": "io.confluent.connect.jdbc.JdbcSourceConnector",
        "connection.url": "jdbc:mysql://localhost:3306/om",
        "topic.prefix": "avro_",
        "table.whitelist": table,
        "mode": "timestamp+incrementing",
        "incrementing.column.name": key,
        "timestamp.column.name": "system_upd",
        "poll.interval.ms": "10000",
        "value.converter": "io.confluent.connect.avro.AvroConverter",
        "value.converter.schema.registry.url": registry,
        "transforms": ", ".join(names),
        "transforms.create_key.type": "org.apache.kafka.connect.transforms.ValueToKey",
        "transforms.create_key.fields": key,
        "transforms.extract_key.type": "org.apache.kafka.connect.transforms.ExtractField$Key",
        "transforms.extract_key.field": key,
    }
    for t, params in transforms.items():
        config.update({f"transforms.{t}.{k}": v for k, v in params.items()})
    return {"name": name, "config": config}


# --------------------------------------------------------------------------
# jdbc_avro_trickle
# --------------------------------------------------------------------------


class JdbcAvroTrickle(Workload):
    """Open loop: a generator thread runs CONNECT_DML_TEST iterations on
    ``customers`` and ``orders`` at the reference's rate while
    back-to-back cycles run one timestamp+incrementing JDBC source and
    one Avro JDBC sink per table."""

    name = "jdbc_avro_trickle"
    topics = ["avro_customers", "avro_orders"]
    avro = True
    # the reference sleeps one second every SLEEP_MOD iterations: its
    # rate is SLEEP_MOD iterations per second, here spread evenly as a
    # commit of COMMIT_ITERATIONS iterations every COMMIT_ITERATIONS /
    # SLEEP_MOD seconds
    COMMIT_ITERATIONS = 10
    PERIOD = COMMIT_ITERATIONS / gen.SLEEP_MOD
    SEED_CUSTOMERS = 1000
    SEED_ORDERS = 2000
    DRAIN_CYCLES = 3

    def _publish(self, table: str) -> None:
        import pyarrow as pa

        columns = {}
        for name, values in zip(gen.TRICKLE_COLUMNS[table], self.tables.columns(table)):
            if name in ("system_upd", "order_datetime"):
                columns[name] = pa.array(values, pa.timestamp("ms", tz="UTC"))
            elif name.endswith("_id"):
                columns[name] = pa.array(values, pa.int32())
            else:
                columns[name] = pa.array(values)
        self.snapshots.publish(table, columns)

    def prepare(self) -> None:
        self.tables = gen.TrickleTables(self.seed, self.SEED_CUSTOMERS, self.SEED_ORDERS)

    def setup(self, d: str) -> None:
        self.db = f"{d}/sink.db"
        self.snapshots = SnapshotTables(self.spark, f"{d}/source")
        for t in gen.TRICKLE_COLUMNS:
            self._publish(t)
        url = "jdbc:sqlite:" + self.db
        eng = self.engine(
            d,
            table_resolver=self.snapshots.resolve,
            connection_factories={url: functools.partial(sqlite3.connect, self.db)},
        )
        registry = f"file://{d}/{REGISTRY}"
        self.sources = [f"src_{t}" for t in gen.TRICKLE_COLUMNS]
        for t, key in gen.TRICKLE_KEYS.items():
            eng.register(jdbc_source(f"src_{t}", t, key, registry, {}))
        self.eng = eng
        # the sinks resolve their value schema from the registry:
        # register each topic's schema as the source's Avro converter
        # derives it, from the table's columns
        from kafkaconnect_spark.functions.avro_wire import avro_schema_for
        from kafkaconnect_spark.functions.registry_rest import registry_for_url

        reg = registry_for_url(registry)
        for t in gen.TRICKLE_COLUMNS:
            cols = self.snapshots.resolve(t).schema
            reg.register(f"avro_{t}-value", avro_schema_for(cols, "ConnectDefault"))
        for t, key in gen.TRICKLE_KEYS.items():
            eng.register({
                "name": f"sink_{t}",
                "config": {
                    "connector.class": "io.confluent.connect.jdbc.JdbcSinkConnector",
                    "topics": f"avro_{t}",
                    "connection.url": url,
                    "insert.mode": "upsert",
                    "pk.mode": "record_key",
                    "pk.fields": key,
                    "table.name.format": f"{t}_sink",
                    "value.converter": "io.confluent.connect.avro.AvroConverter",
                    "value.converter.schema.registry.url": registry,
                },
            })
        self.attempted = self.SEED_CUSTOMERS + self.SEED_ORDERS

    def cycle(self) -> dict[str, float]:
        """Sources, then sinks; returns when each table's sink finished."""
        for p in self.sources:
            self.records_in += sum(self.run_once(p).values())
        ends = {}
        for t in gen.TRICKLE_COLUMNS:
            self.run_once(f"sink_{t}")
            ends[t] = time.time()
        return ends

    def warmup(self) -> None:
        # the first cycle loads the seed rows; one commit before the
        # second runs the incremental path with rows in it
        self.cycle()
        self.attempted += len(self.tables.commit(_now_ms(), self.COMMIT_ITERATIONS))
        for t in gen.TRICKLE_COLUMNS:
            self._publish(t)
        self.cycle()

    def _generate(self, start: float, stop: threading.Event) -> None:
        i = 0
        while not stop.is_set():
            due = start + i * self.PERIOD
            wait = due - time.time()
            if wait > 0 and stop.wait(wait):
                break
            versions = self.tables.commit(_now_ms(), self.COMMIT_ITERATIONS)
            for t in gen.TRICKLE_COLUMNS:
                self._publish(t)
            late = time.time() - due
            self.lates.append(late)
            self.commits.extend(
                {"table": t, "key": k, "stamp": st, "due": due} for t, k, st in versions
            )
            i += 1

    def _sink_stamps(self) -> dict[str, dict[int, int]]:
        out = {}
        with sqlite3.connect(self.db) as c:
            for t, key in gen.TRICKLE_KEYS.items():
                out[t] = {
                    k: _db_ms(v)
                    for k, v in c.execute(f"SELECT {key}, system_upd FROM {t}_sink")
                }
        return out

    def _resolve_pending(self, ends: dict[str, float]) -> None:
        """Mark pending versions the sink tables now show (or a newer
        version of the key), readable from the end of their table's
        sink run: only that sink writes the table."""
        stamps = self._sink_stamps()
        still = []
        for v in self.pending:
            if stamps[v["table"]].get(v["key"], -1) >= v["stamp"]:
                v["readable"] = ends[v["table"]]
            else:
                still.append(v)
        self.pending = still

    def measure(self, seconds: float) -> None:
        self.commits: list[dict] = []
        self.lates: list[float] = []
        self.cycles.clear()
        self.records_in = 0
        stop = threading.Event()
        start = time.time()
        thread = threading.Thread(target=self._generate, args=(start, stop), daemon=True)
        thread.start()
        seen = 0
        self.pending = []
        cycle_ends = []
        try:
            # at least three cycles: throughput is measured from the end
            # of the second to the end of the last (see below)
            while (time.time() - start < seconds or len(cycle_ends) < 3) and not self.errors:
                ends = self.cycle()
                cycle_ends.append(max(ends.values()))
                new = self.commits[seen:]
                seen += len(new)
                # a commit made during this cycle may or may not have been
                # polled by it; the sink state decides
                self.pending.extend(new)
                self._resolve_pending(ends)
        finally:
            stop.set()
            thread.join(timeout=30)
        if thread.is_alive():
            raise RuntimeError("generator thread did not stop")
        self.generator_seconds = time.time() - start
        # every version committed is a freshness sample; the cycles
        # below make readable what the timed ones did not
        self.pending.extend(self.commits[seen:])
        for _ in range(self.DRAIN_CYCLES):
            if not self.pending or self.errors:
                break
            self._resolve_pending(self.cycle())
        self.attempted += len(self.commits)
        self.freshness_ms = [
            (v["readable"] - v["due"]) * 1000 for v in self.commits if "readable" in v
        ]
        self.unread = len(self.pending)
        # delivered: versions that became readable in the target DB
        # after the second timed cycle and by the end of the last one,
        # per second between those two ends. The window starts and ends
        # on a sink cycle's end, so it holds whole cycles' deliveries;
        # it skips the first cycle, which polls a generator that has
        # only just started and so runs short.
        if len(cycle_ends) >= 3:
            first, last = cycle_ends[1], cycle_ends[-1]
            self.timed_seconds = last - first
            self.timed_records = sum(
                1 for v in self.commits if first < v.get("readable", first) <= last
            )

    def check(self) -> tuple[int, list[str]]:
        failed = 0
        notes = []
        with sqlite3.connect(self.db) as c:
            for t, key in gen.TRICKLE_KEYS.items():
                cols = gen.TRICKLE_COLUMNS[t]
                got = {r[0]: r for r in c.execute(f"SELECT {', '.join(cols)} FROM {t}_sink")}
                bad = 0
                for k, want in self.tables.rows[t].items():
                    row = got.get(k)
                    if row is None or _normalise(cols, row) != want:
                        bad += 1
                bad += sum(1 for k in got if k not in self.tables.rows[t])
                if bad:
                    notes.append(f"{t}: {bad} keys differ from the latest source version")
                failed += bad
        if self.unread:
            notes.append(f"{self.unread} versions never became readable")
            failed += self.unread
        return failed, notes

    def lateness_ms(self) -> dict:
        late = sorted(x * 1000 for x in self.lates)
        return {
            "p50": percentile(late, 50), "p95": percentile(late, 95), "max": late[-1] if late else 0.0,
            "commits": len(late), "generator_s": self.generator_seconds,
        }


def _db_ms(v) -> int:
    """A sqlite timestamp as the sink wrote it -> epoch ms."""
    t = dt.datetime.fromisoformat(str(v))
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return int(round(t.timestamp() * 1000))


def _normalise(cols, row) -> tuple:
    return tuple(
        _db_ms(v) if c in ("system_upd", "order_datetime") else v
        for c, v in zip(cols, row)
    )


# --------------------------------------------------------------------------
# docs_dedup_ingest
# --------------------------------------------------------------------------

N_DOCS = 5000


class DocsDedupIngest(Workload):
    """Closed: one batch of documents per cycle, committed to a
    ``documents`` table that a timestamp+incrementing JDBC source polls
    (Avro values); the DedupIndex SMT drops near-duplicates against a
    standing LSH index before the topic. No sink."""

    name = "docs_dedup_ingest"
    topics = ["avro_documents"]
    avro = True
    setup_repeats = 1  # the standing index build dominates set-up
    BATCH_DOCS = 200
    MAX_BATCHES = 7  # the warm-up batch plus up to six timed ones

    def prepare(self) -> None:
        self.docs = gen.DocumentSet(self.seed, N_DOCS, self.MAX_BATCHES, self.BATCH_DOCS)

    def setup(self, d: str) -> None:
        from kafkaconnect_spark.operators import lsh_index

        self.index_dir = f"{d}/index"
        corpus = self.spark.createDataFrame(self.docs.corpus_rows(), "doc_id long, text string")
        lsh_index.build(corpus, self.index_dir, num_hashes=16, bands=4, n=3, threshold=0.2)
        self.snapshots = SnapshotTables(self.spark, f"{d}/source")
        self.committed: list[tuple[int, str, int]] = []
        self._commit([])  # the table exists, empty, when the source registers
        self.batches_done = 0
        eng = self.engine(d, table_resolver=self.snapshots.resolve)
        eng.register(jdbc_source(
            "doc_ingest", "documents", "doc_id", f"file://{d}/{REGISTRY}",
            {"dedup": {
                "type": "kafkaconnect_spark.DedupIndex",
                "index.dir": self.index_dir,
                "threshold": "0.2",
            }},
        ))
        self.eng = eng

    def _commit(self, rows: list[tuple[int, str]]) -> float:
        """Insert ``rows`` in one commit; returns the commit time."""
        import pyarrow as pa

        now = time.time()
        stamp = max(int(now * 1000), self.committed[-1][2] + 1 if self.committed else 0)
        self.committed.extend((i, t, stamp) for i, t in rows)
        ids, texts, stamps = zip(*self.committed) if self.committed else ((), (), ())
        self.snapshots.publish("documents", {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "system_upd": pa.array(stamps, pa.timestamp("ms", tz="UTC")),
        })
        return now

    def _ingest(self) -> tuple[list, float, float]:
        """Commit the next batch and run the source once."""
        rows = self.docs.batches[self.batches_done]
        committed = self._commit(rows)
        self.batches_done += 1
        self.attempted += len(rows)
        t0 = time.time()
        self.run_once("doc_ingest")
        return rows, committed, t0

    def warmup(self) -> None:
        self._ingest()

    def measure(self, seconds: float) -> None:
        self.cycles.clear()
        units = []
        start = time.time()
        # at least two batches; each takes 7-10 s whatever its size
        while ((time.time() - start < seconds or len(units) < 2)
               and self.batches_done < self.MAX_BATCHES and not self.errors):
            rows, committed, t0 = self._ingest()
            t1 = time.time()
            self.timed_seconds += t1 - t0
            self.timed_records += len(rows)
            self.unit_rates.append(len(rows) / (t1 - t0))
            self.freshness_ms.extend([(t1 - committed) * 1000] * len(rows))
            units.append({"ops": len(rows), "drain_s": t1 - t0})
        self.records_in = self.timed_records
        self.units = units

    def survivors(self) -> list[int]:
        rec = self.eng.transport.read_batch(self.topics)
        return [int(r[0]) for r in rec.select("key").collect()]

    def drops(self) -> list[int]:
        reports = sorted(glob.glob(f"{self.index_dir}/reports/*"))
        if not reports:
            return []
        return [int(r[0]) for r in self.spark.read.parquet(*reports).select("id_new").collect()]

    def check(self) -> tuple[int, list[str]]:
        survivors, drops = self.survivors(), self.drops()
        inputs = [i for rows in self.docs.batches[:self.batches_done] for i, _ in rows]
        notes = []
        failed = 0
        s, dr, inp = set(survivors), set(drops), set(inputs)
        if len(survivors) != len(s):
            notes.append(f"{len(survivors) - len(s)} survivors published twice")
            failed += len(survivors) - len(s)
        if s & dr or (s | dr) != inp:
            bad = len(s & dr) + len(inp ^ (s | dr))
            notes.append(f"survivors plus drops differ from the input by {bad} ids")
            failed += bad
        missed = [i for i in self.docs.planted if i in inp and i not in dr]
        if missed:
            notes.append(f"{len(missed)} planted duplicates not dropped")
            failed += len(missed)
        want = self.docs.expected_survivors(self.batches_done)
        digest = gen.id_digest(survivors)
        if digest != gen.id_digest(want):
            notes.append("survivor digest differs from the generator's expectation")
            failed += max(1, len(s ^ set(want)))
        golden = _golden().get(f"{self.seed}:{self.batches_done}")
        if golden is not None and golden != digest:
            notes.append("survivor digest differs from the stored digest")
            failed += 1
        return failed, notes


def _golden() -> dict:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)["survivor_digests"]


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        return float("nan")
    v = sorted(values)
    return v[max(0, -(-len(v) * q // 100) - 1)] if q < 100 else v[-1]


WORKLOADS = {w.name: w for w in (CdcBacklog, JdbcAvroTrickle, DocsDedupIngest)}
