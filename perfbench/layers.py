"""Per-layer metrics from a traced run.

``measure_traced`` runs the timed section twice on the same warm
pipelines: first with the tracer off (the baseline for the tracing
overhead), then with it on. Layer metrics come from the traced
section's spans, its attributed Spark jobs, and the output topics'
growth. README.md lists which end-to-end metric each should move.
"""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

from tracing import SpanIndex

CYCLE = "engine.run_once"


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000


def _topic_state(wl) -> dict[str, dict]:
    """Records, log files and log bytes of each output topic."""
    from pyspark.sql import functions as F

    root = Path(wl.eng.transport.servers[len("file://"):])
    out = {}
    for t in wl.topics:
        files = list((root / t / "log").glob("*.parquet"))
        n = wl.eng.transport.read_batch([t]).agg(F.count("*")).collect()[0][0]
        out[t] = {"records": n, "files": len(files), "bytes": sum(f.stat().st_size for f in files)}
    return out


def _wire_bytes(wl, before: dict[str, dict]) -> tuple[int, int]:
    """(value bytes, records) over the records appended since ``before``.
    Avro values sit base64-wrapped in the file topic log; the bytes a
    broker would carry are the decoded frame."""
    from pyspark.sql import functions as F

    total = n = 0
    for t in wl.topics:
        val = F.col("value")
        size = F.octet_length(F.unbase64(val) if wl.avro else val)
        row = (
            wl.eng.transport.read_batch([t])
            .where(F.col("offset") >= before[t]["records"])
            .agg(F.sum(F.coalesce(size, F.lit(0))), F.count("*"))
            .collect()[0]
        )
        total += int(row[0] or 0)
        n += int(row[1])
    return total, n


def _cycle_medians(wl) -> float:
    return _med((c["end"] - c["start"]) * 1000 for c in wl.cycles)


def measure_traced(spark, wl, tracer, seconds: float) -> tuple[dict, dict]:
    tracer.enabled = False
    wl.measure(seconds)
    untraced_cycle_ms = _cycle_medians(wl)

    wl.reset_measure()
    before = _topic_state(wl)
    progress_from = len(wl.eng.progress_log)
    tracer.enabled = True
    since = time.time()
    wl.measure(seconds)
    traced_cycle_ms = _cycle_medians(wl)
    tracer.enabled = False
    after = _topic_state(wl)
    wire, wire_n = _wire_bytes(wl, before)
    tracer.collect_jobs(spark, since)
    idx = SpanIndex(tracer)
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])

    cycles = idx.named(CYCLE, since)
    appends = [s for s in idx.named("topics.append", since) if idx.under(s, CYCLE)]
    append_jobs = [j for s in appends for j in idx.jobs(s)]
    appended = sum(after[t]["records"] - before[t]["records"] for t in wl.topics)
    new_bytes = sum(after[t]["bytes"] - before[t]["bytes"] for t in wl.topics)
    batches = idx.named("upsert.process_batch", since)
    triggers = [
        e["trigger_ms"] for e in wl.eng.progress_log[progress_from:]
        if e.get("trigger_ms") is not None
    ]
    metrics = {
        "engine.cycle_ms": _med(_ms(c) - idx.probe_seconds(c) * 1000 for c in cycles),
        "engine.self_ms": _med(idx.self_seconds(c) * 1000 for c in cycles),
        "engine.jobs_per_cycle": _med(len(idx.jobs(c)) for c in cycles),
        "engine.trigger_ms": _med(triggers),
        "topics.append_ms": _med(_ms(s) for s in appends),
        "topics.records_appended": appended,
        "topics.bytes_per_record": new_bytes / appended if appended else 0.0,
        "topics.files_per_topic": _mean(after[t]["files"] for t in wl.topics),
        "topics.core_busy_share": (
            sum(j["task_ms"] for j in append_jobs) / (sum(_ms(s) for s in appends) * nproc)
            if appends else 0.0
        ),
        "serde.wire_bytes_per_record": wire / wire_n if wire_n else 0.0,
        "transforms.records_out_per_in": appended / wl.records_in if wl.records_in else 0.0,
        "upsert.batch_ms": _med(_ms(b) for b in batches),
        "upsert.ensure_table_ms": _med(_ms(s) for s in idx.named("upsert.ensure_table", since)),
        "upsert.jobs_per_batch": _med(len(idx.jobs(b)) for b in batches),
        "upsert.shuffle_bytes": _mean(
            sum(j["shuffle_read_bytes"] + j["shuffle_write_bytes"] for j in idx.jobs(b))
            for b in batches
        ),
        "upsert.rows_written_per_record": (
            sum(b["counts"].get("keys", 0) for b in batches)
            / max(1, sum(b["counts"].get("records", 0) for b in batches))
        ),
        "trace.overhead_ms": traced_cycle_ms - untraced_cycle_ms,
    }
    extra = {
        "untraced_cycle_p50_ms": untraced_cycle_ms,
        "traced_cycle_p50_ms": traced_cycle_ms,
        "spans": len([s for s in tracer.spans if s["start"] >= since]),
        "jobs": len(tracer.jobs),
        "jobs_outside_spans": sum(1 for j in tracer.jobs if j["span_id"] is None),
    }
    # layers that one workload calls; the others read 0
    polls = idx.named("jdbc_poller.poll", since)
    scanned = sum(j["input_records"] for s in polls for j in idx.jobs(s))
    metrics.update({
        "jdbc_poller.poll_ms": _med(_ms(s) for s in polls),
        "jdbc_poller.rows_per_poll": wl.records_in / len(polls) if polls else 0.0,
        "jdbc_poller.rows_scanned_per_row_returned": (
            scanned / wl.records_in if polls and wl.records_in else 0.0
        ),
        "jdbc_poller.offset_commit_ms": _med(
            _ms(s) for s in idx.named("jdbc_poller.offset_commit", since)
        ),
    })
    smts = idx.named("lsh_index.smt", since)
    metrics.update({
        "lsh_index.smt_ms": _med(_ms(s) for s in smts),
        "lsh_index.add_ms": _med(_ms(s) for s in idx.named("lsh_index.add", since)),
        "lsh_index.jobs_per_batch": _med(len(idx.jobs(s)) for s in smts),
        "lsh_index.input_bytes_per_batch": _mean(
            sum(j["input_bytes"] for j in idx.jobs(s)) for s in smts
        ),
        "lsh_index.shuffle_bytes_per_batch": _mean(
            sum(j["shuffle_read_bytes"] + j["shuffle_write_bytes"] for j in idx.jobs(s))
            for s in smts
        ),
    })
    units = {
        "engine.cycle_ms": "ms", "engine.self_ms": "ms", "engine.jobs_per_cycle": "count",
        "engine.trigger_ms": "ms", "topics.append_ms": "ms", "topics.records_appended": "count",
        "topics.bytes_per_record": "B", "topics.files_per_topic": "count",
        "topics.core_busy_share": "ratio", "serde.wire_bytes_per_record": "B",
        "transforms.records_out_per_in": "ratio", "upsert.batch_ms": "ms",
        "upsert.ensure_table_ms": "ms", "upsert.jobs_per_batch": "count",
        "upsert.shuffle_bytes": "B", "upsert.rows_written_per_record": "ratio",
        "jdbc_poller.poll_ms": "ms", "jdbc_poller.rows_per_poll": "count",
        "jdbc_poller.rows_scanned_per_row_returned": "ratio", "jdbc_poller.offset_commit_ms": "ms",
        "lsh_index.smt_ms": "ms", "lsh_index.add_ms": "ms", "lsh_index.jobs_per_batch": "count",
        "lsh_index.input_bytes_per_batch": "B", "lsh_index.shuffle_bytes_per_batch": "B",
        "trace.overhead_ms": "ms",
    }
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}, extra
