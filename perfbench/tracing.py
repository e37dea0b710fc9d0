"""Spans at the public entry points of the engine's layers.

A ``Tracer`` keeps spans in memory: id, parent id, name, start, end
and a dict of counts. ``install`` wraps public methods and functions
of the layers from outside the program; the program itself carries no
tracing code. Spark jobs are read from the UI REST API at the end of
the run and each is attributed to the innermost span open at its
submission time, with the task time and bytes of its completed stages.

Spans opened inside ``foreachBatch`` run on the Py4J callback thread
while the caller's thread waits in ``run_once``; one shared stack
(under a lock) keeps them nested under the cycle that caused them.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import threading
import time
import urllib.request

PROBE = "trace.probe"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.enabled = True  # off: wrappers call straight through

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {"counts": {}}
            return
        with self._lock:
            s = {
                "id": len(self.spans),
                "parent": self._stack[-1]["id"] if self._stack else None,
                "name": name,
                "start": time.time(),
                "end": None,
                "counts": dict(counts),
            }
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s["end"] = time.time()
                self._stack.remove(s)

    # ---- wrapping --------------------------------------------------------
    def _patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap each layer's public entry points. Call before the engine
        compiles pipelines: transform chains are bound at register."""
        from kafkaconnect_spark.operators import lsh_index, transforms
        from kafkaconnect_spark.operators.upsert import JdbcSinkWriter
        from kafkaconnect_spark.sources.jdbc_poller import IncrementalPoller, OffsetStore
        from kafkaconnect_spark.sources.topics import TopicTransport

        self._patch(TopicTransport, "append", "topics.append")
        self._patch(IncrementalPoller, "poll", "jdbc_poller.poll")
        self._patch(OffsetStore, "put", "jdbc_poller.offset_commit")
        self._patch(JdbcSinkWriter, "ensure_table", "upsert.ensure_table")
        self._patch(lsh_index, "add", "lsh_index.add")

        original_process = JdbcSinkWriter.process_batch
        tracer = self

        def process_batch(writer, records, batch_id=0):
            with tracer.span("upsert.process_batch") as s:
                original_process(writer, records, batch_id)
            if not tracer.enabled:
                return
            # counted after the span closes, under a probe span that the
            # layer metrics leave out: records consumed, keys applied
            with tracer.span(PROBE):
                s["counts"]["records"] = records.count()
                s["counts"]["keys"] = records.select("key").distinct().count()

        self._undo.append((JdbcSinkWriter, "process_batch", original_process))
        JdbcSinkWriter.process_batch = process_batch

        registry = transforms.TRANSFORM_REGISTRY
        build_dedup = registry["DedupIndex"]

        def traced_dedup(params):
            smt = build_dedup(params)

            def apply(df):
                with tracer.span("lsh_index.smt"):
                    return smt(df)

            return apply

        self._undo.append((registry, "DedupIndex", build_dedup))
        registry["DedupIndex"] = traced_dedup

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)
        self._undo.clear()

    # ---- Spark jobs ------------------------------------------------------
    def collect_jobs(self, spark, since: float = 0.0) -> None:
        """Read every job submitted from ``since`` on, with its completed
        stages, from the UI REST API and attribute each to the innermost
        span open when it was submitted (``span_id`` None when no span
        was open)."""
        base = spark.sparkContext.uiWebUrl
        if not base:
            raise RuntimeError("tracing needs spark.ui.enabled=true")
        app = spark.sparkContext.applicationId

        def get(path: str):
            url = f"{base}/api/v1/applications/{app}{path}"
            with urllib.request.urlopen(url, timeout=60) as r:
                return json.loads(r.read().decode())

        stages: dict[int, dict] = {}
        for st in get("/stages?details=false"):
            if st.get("status") != "COMPLETE":
                continue  # skipped stages reused an earlier shuffle
            agg = stages.setdefault(st["stageId"], dict.fromkeys(_STAGE_FIELDS.values(), 0))
            for k_json, k_out in _STAGE_FIELDS.items():
                agg[k_out] += int(st.get(k_json) or 0)
        closed = [s for s in self.spans if s["end"] is not None and s["end"] >= since]
        for j in get("/jobs"):
            submitted = _rest_time(j["submissionTime"])
            if submitted < since:
                continue
            job = {"job_id": j["jobId"], "submitted": submitted, "span_id": None}
            job.update(dict.fromkeys(_STAGE_FIELDS.values(), 0))
            for sid in j.get("stageIds", []):
                for k, v in stages.get(sid, {}).items():
                    job[k] += v
            inner = None
            for s in closed:
                # REST times are whole milliseconds
                if int(s["start"] * 1000) <= submitted * 1000 <= s["end"] * 1000 + 1:
                    if inner is None or s["start"] >= inner["start"]:
                        inner = s
            job["span_id"] = inner["id"] if inner else None
            self.jobs.append(job)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs, **extra}, f)


_STAGE_FIELDS = {
    "executorRunTime": "task_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
}


def _rest_time(text: str) -> float:
    """'2026-10-17T04:30:00.123GMT' -> epoch seconds."""
    t = dt.datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class SpanIndex:
    """Read-side helpers over a finished trace."""

    def __init__(self, tracer: Tracer):
        self.spans = tracer.spans
        self.children: dict[int | None, list[dict]] = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs_by_span: dict[int | None, list[dict]] = {}
        for j in tracer.jobs:
            self.jobs_by_span.setdefault(j["span_id"], []).append(j)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def under(self, span: dict, name: str) -> bool:
        """True when an ancestor of ``span`` is called ``name``."""
        by_id = self.spans
        p = span["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    def subtree(self, span: dict, skip_probes: bool = True) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            if skip_probes and s["name"] == PROBE:
                continue
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs(self, span: dict) -> list[dict]:
        return [j for s in self.subtree(span) for j in self.jobs_by_span.get(s["id"], [])]

    def probe_seconds(self, span: dict) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.subtree(span, skip_probes=False)
            if s["name"] == PROBE
        )

    def self_seconds(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.children.get(span["id"], [])
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered
