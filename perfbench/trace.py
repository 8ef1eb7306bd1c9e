"""Spans, counts and Spark-side counters for the traced run.

Spans are recorded by wrapping, from these benchmark files, the public
layer entry points of ``sifts_spark`` (see :data:`LAYERS`). Spark plans
lazily, so a span around a call that only builds a plan measures driver
planning; executor time lands on the operation that runs the action and
is attributed through one Spark job group per operation.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# (module path, owner attribute or None for a module function, attribute,
# span name). A function imported by name into another module is wrapped
# at every binding the engine calls through.
LAYERS = [
    ("sifts_spark.queryparser", None, "parse_query", "queryparser.parse"),
    ("sifts_spark.collection", None, "parse_query", "queryparser.parse"),
    ("sifts_spark.collection", "SparkCollection", "_query_plan", "collection.query_df"),
    ("sifts_spark.collection", "SparkCollection", "_paginate", "collection.query_df"),
    ("sifts_spark.collection", None, "compile_where", "metadata.compile_where"),
    ("sifts_spark.sources.store", "DocumentStore", "read_manifest", "store.read_manifest"),
    ("sifts_spark.sources.store", "DocumentStore", "read", "store.read"),
    ("sifts_spark.sources.store", "DocumentStore", "read_postings", "store.read_postings"),
    ("sifts_spark.sources.store", "DocumentStore", "append_batch", "store.append_batch"),
    ("sifts_spark.sources.store", "DocumentStore", "maintain_postings", "store.maintain_postings"),
    ("sifts_spark.sources.store", "DocumentStore", "compact", "store.compact"),
    ("sifts_spark.sources.store", "DocumentStore", "vacuum", "store.vacuum"),
    ("sifts_spark.operators.search", None, "search_postings", "search.search_postings"),
    ("sifts_spark.operators.search", None, "build_postings", "search.build_postings"),
    ("sifts_spark.operators.dedup", None, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("sifts_spark.operators.dedup", None, "duplicate_clusters", "dedup.duplicate_clusters"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (children are clipped to the parent and merged, so
    overlapping children are not subtracted twice)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = []
    for n, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(n, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """In-memory span recorder. Spans nest by call order on the one
    benchmark thread; ``op_id`` ties every span to the operation that
    caused it."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self.missing: list[str] = []
        self._pairs: list = []
        self.pairs_found: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        n = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(n)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[n].end = time.perf_counter()

    def _wrapper(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "dedup.minhash_lsh_pairs":
                tracer._pairs.append(out)
            return out

        traced.__wrapped__ = fn
        return traced

    def count_pairs(self) -> None:
        """Count the duplicate pairs the last operation's MinHash calls
        found. Runs after the operation and outside its job group, while
        the snapshot those lazy plans read is still on disk."""
        for pairs in self._pairs:
            self.pairs_found.append(pairs.count())
        self._pairs.clear()

    def install(self) -> None:
        import importlib

        for mod_name, owner_name, attr, name in LAYERS:
            owner = importlib.import_module(mod_name)
            if owner_name is not None:
                owner = getattr(owner, owner_name, None)
            fn = getattr(owner, attr, None) if owner is not None else None
            if fn is None:
                self.missing.append(f"{mod_name}.{owner_name or ''}.{attr}")
                continue
            setattr(owner, attr, self._wrapper(fn, name))
            self._patched.append((owner, attr, fn))
        if self.missing:
            print(f"perfbench: layers not found, not traced: {self.missing}",
                  file=sys.stderr)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def layer_totals(self) -> tuple[dict[str, float], dict[str, int]]:
        """Self time and calls per span name, over spans inside measured
        operations (the benchmark's own untimed checks are left out)."""
        secs: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s, t in zip(self.spans, self_times(self.spans)):
            if s.op_id is not None:
                secs[s.name] += t
                calls[s.name] += 1
        return secs, calls

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class SparkCounters:
    """Per-operation Spark counters: one job group per operation; jobs,
    stages and tasks from the status tracker right after the operation;
    executor time, GC, input and shuffle bytes from the local REST API
    (the driver's own UI on localhost) once the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.groups: list[str] = []
        self.jobs = self.stages = self.tasks = 0
        self.persisted: list[int] = []

    def begin(self, op_id: int, kind: str) -> None:
        group = f"perfbench-{op_id}"
        self.groups.append(group)
        self.sc.setJobGroup(group, kind)

    def end(self) -> None:
        group = self.groups[-1]
        for job in self.tracker.getJobIdsForGroup(group):
            self.jobs += 1
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            for stage in info.stageIds:
                self.stages += 1
                sinfo = self.tracker.getStageInfo(stage)
                if sinfo is not None:
                    self.tasks += sinfo.numTasks
        self.persisted.append(self.sc._jsc.getPersistentRDDs().size())
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def executor_totals(self) -> dict[str, float]:
        """Executor run time, GC time, input and shuffle bytes summed
        over every stage of the traced job groups."""
        groups = set(self.groups)
        want = None
        deadline = time.monotonic() + 10
        while True:  # the UI store is fed asynchronously by the listener bus
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            if want is None:
                want = self.jobs
            if len(jobs) >= want or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        out = dict(executor_run_s=0.0, gc_s=0.0, input_bytes=0.0, shuffle_bytes=0.0)
        for st in self._get("stages"):
            if st["stageId"] not in stage_ids:
                continue
            out["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
            out["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
            out["input_bytes"] += st.get("inputBytes", 0)
            out["shuffle_bytes"] += st.get("shuffleReadBytes", 0) + st.get(
                "shuffleWriteBytes", 0
            )
        return out
