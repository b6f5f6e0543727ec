"""Span tracing for the traced run: wraps the library's public calls
from outside (no library file changes), attributes Spark work to each
operation through a per-op job group, and reads JVM GC and heap
figures from the platform MXBeans."""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

# (module path, attribute, span name); a dotted attribute wraps a method
WRAPPED = (
    ("metastore_spark.api", "SearchEngine.search", "api.search"),
    ("metastore_spark.api", "SearchEngine.refresh_from_snapshot", "api.refresh"),
    ("metastore_spark.api", "run_envelope", "envelope.run"),
    ("metastore_spark.operators.envelope", "summary_agg", "envelope.summary"),
    ("metastore_spark.api", "bm25_scores", "search.plan"),
    ("metastore_spark.queries_search", "bm25_scores", "search.plan"),
    ("metastore_spark.api", "build_index", "search.index_build"),
    ("metastore_spark.sources.snapshots", "commit_append", "snapshots.commit"),
    ("metastore_spark.sources.snapshots", "read_snapshot", "snapshots.read"),
    ("metastore_spark.serve", "snapshot_store", "serve.store"),
)


class Tracer:
    """Spans are (name, start, end, parent, op) rows kept in memory and
    written out once at the end. Recording happens only while
    ``active`` is set, so traced and untraced rounds of one run share
    the same wrapped code."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._originals: list[tuple] = []

    # -- wrapping -----------------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            original = getattr(owner, leaf)
            self._originals.append((owner, leaf, original))
            setattr(owner, leaf, self._wrap(original, span_name))

    def uninstall(self) -> None:
        for owner, leaf, original in reversed(self._originals):
            setattr(owner, leaf, original)
        self._originals.clear()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent, "op": self._op})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    # -- operations ---------------------------------------------------------

    @contextmanager
    def op(self, op_id: int, cls: str):
        """One timed operation. While active, its Spark jobs run under
        their own job group so they can be counted afterwards."""
        if not self.active:
            yield
            return
        group = f"perfbench-{os.getpid()}-{op_id}"
        self.sc.setJobGroup(group, f"{cls} op {op_id}")
        self._op = op_id
        try:
            with self.span(f"op.{cls}"):
                yield
        finally:
            self._op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.ops.append({"op": op_id, "cls": cls, "group": group})

    def resolve_counts(self) -> None:
        """Fill jobs / stages / tasks per traced op from the status
        tracker. Runs once at the end, after the listener bus drained,
        so late job-end events cannot make the counts drift."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(2.0)
        tracker = self.sc.statusTracker()
        for op in self.ops:
            jobs = tracker.getJobIdsForGroup(op["group"])
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            op.update(jobs=len(jobs), stages=stages, tasks=tasks)

    # -- derived figures ----------------------------------------------------

    def durations(self, name: str) -> dict[int, float]:
        """Seconds spent in spans called ``name``, summed per op."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s["name"] == name and s["op"] is not None:
                out[s["op"]] = out.get(s["op"], 0.0) + s["end"] - s["start"]
        return out

    def durations_anywhere(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def layer_table(self) -> list[dict]:
        """Per span name: calls, total and self time (total minus the
        time of direct children), in milliseconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        rows: dict[str, dict] = {}
        for s, c in zip(self.spans, child):
            r = rows.setdefault(s["name"], {"layer": s["name"], "calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            r["calls"] += 1
            r["total_ms"] += (s["end"] - s["start"]) * 1e3
            r["self_ms"] += (s["end"] - s["start"] - c) * 1e3
        return sorted(rows.values(), key=lambda r: -r["self_ms"])

    def write(self, out_dir: str, stem: str, extra: dict) -> str:
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{stem}.spans.jsonl"), "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
        table = self.layer_table()
        path = os.path.join(out_dir, f"{stem}.layers.md")
        with open(path, "w") as fh:
            fh.write(f"# Layer table: {stem}\n\n| layer | calls | total ms | self ms |\n|---|---:|---:|---:|\n")
            for r in table:
                fh.write(f"| {r['layer']} | {r['calls']} | {r['total_ms']:.1f} | {r['self_ms']:.1f} |\n")
            fh.write("\n## Per-layer metrics\n\n| metric | value |\n|---|---:|\n")
            for k, v in extra.items():
                fh.write(f"| {k} | {v:.4f} |\n")
        with open(os.path.join(out_dir, f"{stem}.layers.json"), "w") as fh:
            json.dump({"layers": table, "metrics": extra, "ops": self.ops}, fh, indent=1)
        return path


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def jvm_heap_live_mb(spark) -> float:
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return used / 2**20


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024
