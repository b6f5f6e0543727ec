"""Workload runners: set up, time the schedule closed loop with one
client, check every output, and reduce the samples to metrics.

The library is reached only through its public calls: ``session``,
``catalog``, ``api.SearchEngine``, ``rest.create_app``,
``sources.snapshots`` and the ``queries`` registry.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import sys
import time

import stats
from checks import check
from oracle import DatasetOracle, EventsOracle
from schedule import (
    EVENT_OWNERS, FILTER_STRATA, RELEVANCE_STRATA,
    filter_schedule, ingest_schedule, relevance_schedule,
)
from trace import Tracer, jvm_gc_ms, jvm_heap_live_mb, jvm_pid, peak_rss_mb

SF = 0.1
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
SETUP_REPS = 4
# written last by `prepare`: the stores it left and the oracle digests
PREPARED = "_PREPARED.json"
YOUNG_GEN = "512m"
JWT_KEY = "perfbench-key"
INGEST_BATCH = 500
# operations per second of --seconds: they turn --seconds into a fixed
# operation count (never dependent on the seed or on speed). At 8 s they
# give 40 filter requests, 24 relevance requests and 21 ingest cycles:
# 15-30 s of timed work each on a 4-core host running 2.5x slower than
# calm, which keeps a benchmark's 70 runs inside its time budget.
FILTER_OPS_PER_S = 5.0
RELEVANCE_OPS_PER_S = 3.0
INGEST_CYCLES_PER_S = 2.6
# run once per registry set-up, after the catalog stores are opened;
# not part of the timed subset
REGISTRY_WARMUP = "q6_forecast_revenue"

# one or more registry queries per queries* module, in a fixed order;
# every query here has a DuckDB oracle
REGISTRY_SUBSET = (
    "q1_pricing_summary",
    "top_customers_per_nation",
    "api_events_envelope_snapshot",
    "events_asof_signup",
    "docs_chunk_split",
    "dedup_simhash_pairs",
    "events_distribution_drift",
    "nation_trade_pagerank",
    "multimodal_binary_dedup",
    "docs_training_shards",
    "search_bm25_docs",
    "events_peak_concurrency",
    "ann_cosine_topk",
    "events_type_cms_counts",
    "events_snapshot_source_batch",
    "events_snapshot_history",
    "events_stream_hourly",
    "events_cdc_latest_state",
    "docs_token_stats",
    "q19_disjunctive_pushdown",
    "q13_order_count_distribution",
)
REGISTRY_MODULES = (
    "queries", "queries_analytics", "queries_api", "queries_asof",
    "queries_curation", "queries_dedup", "queries_governance", "queries_graph",
    "queries_multimodal", "queries_sampling", "queries_search",
    "queries_sessions", "queries_similarity", "queries_sketch",
    "queries_snapshots", "queries_streaming", "queries_temporal",
    "queries_text", "queries_tpch_extra", "queries_tpch_joins",
)

PER_LAYER = {
    "envelope.run_ms": "ms", "envelope.summary_ms": "ms", "envelope.page_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "api.search_ms": "ms", "api.plan_ms": "ms", "rest.self_ms": "ms", "rest.body_kb": "KB",
    "search.plan_ms": "ms", "search.index_build_s": "s",
    "snapshots.commit_ms": "ms", "snapshots.files_per_commit": "count", "api.refresh_ms": "ms",
    "snapshots.read_ms": "ms", "snapshots.head_files": "count", "serve.store_s": "s",
    "jvm.gc_ms_per_op": "ms", "jvm.heap_live_mb": "MB", "spark.start_s": "s",
    "trace.overhead_ms": "ms", "ingest.read_p50_ms": "ms", "ingest.read_p90_ms": "ms",
}
PER_LAYER.update({
    f"{m}.{k}": unit for m in REGISTRY_MODULES
    for k, unit in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"))
})

END_TO_END = {
    "setup_s": "s", "throughput_ops_s": "1/s", "latency_p50_ms": "ms",
    "latency_p90_ms": "ms", "peak_rss_mb": "MB",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


# -- frames the search kinds serve ----------------------------------------

def events_frame(spark, corpus: str):
    """The events kind: the catalog's events store with the reference's
    visibility columns derived from the fixture."""
    from pyspark.sql import functions as F

    from metastore_spark import catalog

    ev = catalog.load_table(spark, corpus, "events")
    return ev.select(
        "event_id",
        F.col("ts").alias("timestamp"),
        "event_type",
        "user_id",
        "value",
        F.when(F.col("event_id") % 2 == 0, "published").otherwise("unlisted").alias("findability"),
        F.concat(F.lit("u"), (F.col("user_id") % EVENT_OWNERS).cast("string")).alias("ownerid"),
    )


EVENTS_SCHEMA = (
    "event_id bigint, timestamp timestamp_ntz, event_type string, user_id bigint, "
    "value double, findability string, ownerid string"
)


def dataset_frame(spark, corpus: str):
    """The dataset kind: documents wrapped in the reference's nested
    ``datahub`` / ``datapackage`` shape."""
    from pyspark.sql import functions as F

    from metastore_spark import catalog

    d = catalog.load_table(spark, corpus, "documents")
    mod3 = F.col("doc_id") % 3
    return d.select(
        F.col("doc_id").alias("id"),
        F.concat_ws("-", "lang", "doc_id").alias("title"),
        F.struct(
            F.when(mod3 == 0, "published").when(mod3 == 1, "unlisted")
            .otherwise("private").alias("findability"),
            F.when(F.col("doc_id") % 7 == 0, "core").otherwise(F.col("source")).alias("ownerid"),
            F.col("source").alias("owner"),
            F.col("lang").alias("name"),
            F.struct(F.col("n_chars").cast("double").alias("bytes")).alias("stats"),
        ).alias("datahub"),
        F.struct(F.col("text").alias("readme")).alias("datapackage"),
    )


def kinds():
    from metastore_spark.api import KindConfig

    return {
        "dataset": KindConfig(
            table="datahub", id_field="id",
            findability_field="datahub.findability", owner_field="datahub.ownerid",
            q_fields={"title": 5.0, "datahub.owner": 2.0, "datahub.ownerid": 1.0,
                      "datapackage.readme": 2.0},
            filter_mode="match", bytes_field="datahub.stats.bytes",
            boost_owner_field="datahub.ownerid",
        ),
        "events": KindConfig(
            table="events", id_field="event_id", findability_field="findability",
            owner_field="ownerid", timestamp_field="timestamp", filter_mode="term",
            bytes_field="value",
        ),
    }


# -- the run ----------------------------------------------------------------

class Bench:
    def __init__(self, spark, work: str, corpus: str, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.work = work
        self.corpus = corpus
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(spark)
        self.trace = trace
        self.setup_times: list[float] = []
        self.ops: list[tuple[str, float, bool]] = []  # (class, seconds, traced) per completed op
        self.body_kb: list[float] = []
        self.by_stratum: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.extra: dict[str, float] = {}
        self.per_module: dict[str, dict[int, float]] = {}  # traced registry ops
        self._next_op = 0
        self._tokens: dict[str, str] = {}

    # timing ----------------------------------------------------------------

    def timed(self, cls: str, fn, traced: bool):
        """Run one operation; return (result, seconds)."""
        op = self._next_op
        self._next_op += 1
        self.attempted += 1
        self.tracer.active = traced
        try:
            with self.tracer.op(op, cls):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        finally:
            self.tracer.active = False
        self.ops.append((cls, dt, traced))
        return out, dt

    def setup(self, fn):
        """Run ``fn`` SETUP_REPS times; each rep rebuilds the workload's
        serving state from opened stores and ends with one warm-up
        operation. The last rep's state is the one timed."""
        state = None
        for rep in range(SETUP_REPS):
            if state is not None and "teardown" in state:
                state["teardown"]()
            self.tracer.active = self.trace
            t0 = time.perf_counter()
            state = fn(rep)
            self.setup_times.append(time.perf_counter() - t0)
            self.tracer.active = False
        log("set-ups took " + ", ".join(f"{t:.2f}" for t in self.setup_times) + " s")
        return state

    def fail(self, what: str, problems: list[str]) -> None:
        self.failed += 1
        if self.failed <= 5:
            log(f"FAILED {what}: {'; '.join(problems)}")

    # requests ----------------------------------------------------------------

    def token(self, user: str) -> str:
        from metastore_spark.rest import encode_jwt

        if user not in self._tokens:
            self._tokens[user] = encode_jwt({"userid": user}, JWT_KEY)
        return self._tokens[user]

    def request(self, app, req, cls: str, traced: bool, expect) -> None:
        token = self.token(req.user) if req.user else None
        environ = {
            "REQUEST_METHOD": "GET", "PATH_INFO": req.path,
            "QUERY_STRING": req.query_string(token), "wsgi.input": io.BytesIO(),
        }
        if token and req.auth == "header":
            environ["HTTP_AUTH_TOKEN"] = token
        status: list[str] = []

        def call():
            with self.tracer.span("rest.call"):
                return b"".join(app(environ, lambda s, h: status.append(s)))

        body, dt = self.timed(cls, call, traced)
        if cls != "warm":
            self.by_stratum.setdefault(req.stratum, []).append(dt)
        self.body_kb.append(len(body) / 1024)
        exp, boost_of = expect(req)
        problems = check(req, status[0] if status else "none", body, exp, boost_of)
        if problems:
            self.fail(f"{req.stratum} {req.query_string()}", problems)

    def engine(self, frames: dict):
        from metastore_spark.api import SearchEngine
        from metastore_spark.rest import create_app

        eng = SearchEngine(self.spark, kinds(), frames)
        return eng, create_app(eng, JWT_KEY)

    # workloads ---------------------------------------------------------------

    def search_filter(self) -> str:
        ev_or, ds_or = EventsOracle(self.corpus), DatasetOracle(self.corpus)
        expect = _expecter(ev_or, ds_or)
        warm = filter_schedule(-1, 1)

        def build(rep):
            eng, app = self.engine({"events": events_frame(self.spark, self.corpus),
                                    "dataset": dataset_frame(self.spark, self.corpus)})
            for req in (warm[0], warm[10]):
                self.request(app, req, "warm", False, expect)
            return {"app": app}

        app = self.setup(build)["app"]
        rounds = max(2, int(self.seconds * FILTER_OPS_PER_S / len(FILTER_STRATA) + 0.5))
        reqs = filter_schedule(self.seed, rounds)
        for i, req in enumerate(reqs):
            self.request(app, req, "filter", self.trace and _alternate(i, len(FILTER_STRATA)), expect)
        return "filter"

    def search_relevance(self) -> str:
        ev_or, ds_or = None, DatasetOracle(self.corpus)
        expect = _expecter(ev_or, ds_or)
        pools = ds_or.term_pools()
        warm = relevance_schedule(-1, 1, pools)[0]

        def build(rep):
            eng, app = self.engine({"dataset": dataset_frame(self.spark, self.corpus)})
            eng.index_for("dataset")
            self.request(app, warm, "warm", False, expect)
            return {"app": app, "teardown": lambda: eng.refresh("dataset", eng.dfs["dataset"])}

        app = self.setup(build)["app"]
        rounds = max(2, int(self.seconds * RELEVANCE_OPS_PER_S / len(RELEVANCE_STRATA) + 0.5))
        reqs = relevance_schedule(self.seed, rounds, pools)
        for i, req in enumerate(reqs):
            self.request(app, req, "relevance", self.trace and _alternate(i, len(RELEVANCE_STRATA)), expect)
        return "relevance"

    def ingest_search(self) -> str:
        import pandas as pd

        from metastore_spark.sources import snapshots

        ev_or = EventsOracle(self.corpus)
        expect = _expecter(ev_or, None)
        first_id = int(ev_or.ids.max()) + 1
        first_ts = int(ev_or.ts.max())
        warm = ingest_schedule(-1, 1, 1, first_id, first_ts, ev_or.n_users)[0].reads[0]
        roots: list[str] = []

        def build(rep):
            root = os.path.join(self.work, f"ingest-{os.getpid()}-{rep}")
            shutil.rmtree(root, ignore_errors=True)
            roots.append(root)
            snapshots.commit_append(self.spark, root, events_frame(self.spark, self.corpus))
            eng, app = self.engine({"events": None})
            eng.refresh_from_snapshot("events", root)
            self.request(app, warm, "warm", False, expect)
            return {"app": app, "eng": eng, "root": root,
                    "teardown": lambda: shutil.rmtree(root, ignore_errors=True)}

        try:
            st = self.setup(build)
            app, eng, root = st["app"], st["eng"], st["root"]
            cycles = max(4, int(self.seconds * INGEST_CYCLES_PER_S + 0.5))
            plan = ingest_schedule(self.seed, cycles, INGEST_BATCH, first_id, first_ts, ev_or.n_users)
            files = [len(snapshots.files_of(root, snapshots.current_version(root)))]
            for c, cycle in enumerate(plan):
                # ABBA order: commits slow down as the head grows, so a
                # plain alternation would bias the tracing overhead
                traced = self.trace and c % 4 in (0, 3)
                pdf = pd.DataFrame(cycle.rows, columns=[f.split()[0] for f in EVENTS_SCHEMA.split(", ")])
                pdf["timestamp"] = pd.to_datetime(pdf["timestamp"], unit="us")
                batch = self.spark.createDataFrame(pdf, EVENTS_SCHEMA)

                def commit():
                    snapshots.commit_append(self.spark, root, batch)
                    return eng.refresh_from_snapshot("events", root)

                version, _ = self.timed("commit", commit, traced)
                ev_or.append(cycle.rows)
                files.append(len(snapshots.files_of(root, version)))
                for req in cycle.reads:
                    self.request(app, req, "read", traced, expect)
            self.extra["snapshots.files_per_commit"] = (files[-1] - files[0]) / len(plan)
            self.extra["snapshots.head_files"] = float(files[-1])
            reads = self.latencies_ms("read")
            self.extra["ingest.read_p50_ms"] = stats.median(reads)
            self.extra["ingest.read_p90_ms"] = stats.tail(reads, 90)[0]
        finally:
            for r in roots:
                shutil.rmtree(r, ignore_errors=True)
        return "commit"

    def registry_batch(self) -> str:
        from metastore_spark import catalog
        from metastore_spark.queries import REGISTRY

        import __spark_entry__  # noqa: F401  (registers every queries_* module)

        with open(os.path.join(self.corpus, PREPARED)) as fh:
            oracles = json.load(fh)["oracles"]

        def build(rep):
            self.spark.catalog.clearCache()
            catalog.load_tables(self.spark, self.corpus)
            REGISTRY[REGISTRY_WARMUP].fn(self.spark, self.corpus).write.format("noop").mode("overwrite").save()
            return {}

        self.setup(build)
        # traced runs make two passes, each query traced in one of them
        passes = 2 if self.trace else 1
        for p in range(passes):
            for q, name in enumerate(REGISTRY_SUBSET):
                traced = self.trace and (q + p) % 2 == 0
                self.spark.catalog.clearCache()
                fn = REGISTRY[name].fn

                def run():
                    sdf = fn(self.spark, self.corpus)
                    return [c.lower() for c in sdf.columns], sdf.collect()

                try:
                    (cols, rows), dt = self.timed("query", run, traced)
                except Exception as e:  # noqa: BLE001 — a failing query is a counted failure
                    self.fail(name, [f"{type(e).__name__}: {e}"])
                    continue
                problem = compare_with_oracle(cols, rows, oracles[name])
                if problem:
                    self.fail(name, [problem])
                if traced:
                    mod = fn.__module__.rsplit(".", 1)[-1]
                    self.per_module.setdefault(mod, {})[self._next_op - 1] = dt
        return "query"

    # metrics -----------------------------------------------------------------

    def latencies_ms(self, cls: str, traced: bool | None = None) -> list[float]:
        return [t * 1e3 for c, t, tr in self.ops if c == cls and traced in (None, tr)]

    def metrics(self, primary: str, jvm: int) -> dict:
        ops = [t for c, t, _ in self.ops if c != "warm"]
        lat = self.latencies_ms(primary)
        p90, used = stats.tail(lat, 90)
        log(f"{primary}: {len(lat)} ops, p90 reported at p{used:.1f}")
        for name, ts in sorted(self.by_stratum.items(), key=lambda kv: stats.median(kv[1])):
            log(f"  {name:24s} median {stats.median(ts) * 1e3:8.1f} ms over {len(ts)}")
        return {
            "setup_s": stats.median(self.setup_times),
            "throughput_ops_s": len(ops) / sum(ops),
            "latency_p50_ms": stats.median(lat),
            "latency_p90_ms": p90,
            "peak_rss_mb": peak_rss_mb([os.getpid(), jvm]),
        }

    def layer_metrics(self, primary: str, gc_ms: float, start_s: float) -> dict:
        tr = self.tracer
        tr.resolve_counts()
        traced_ops = [o for o in tr.ops if o["cls"] == primary]
        ids = [o["op"] for o in traced_ops]

        def per_op(name):
            d = tr.durations(name)
            return {i: d.get(i, 0.0) for i in ids}

        def med_ms(values):
            vals = [v * 1e3 for v in values if v > 0]
            return stats.median(vals) if vals else 0.0

        run, summ = per_op("envelope.run"), per_op("envelope.summary")
        search, call = per_op("api.search"), per_op("rest.call")
        m = {k: 0.0 for k in PER_LAYER}
        m.update({
            "envelope.run_ms": med_ms(run.values()),
            "envelope.summary_ms": med_ms(summ.values()),
            "envelope.page_ms": med_ms(run[i] - summ[i] for i in ids if run[i] > 0),
            "api.search_ms": med_ms(search.values()),
            "api.plan_ms": med_ms(search[i] - run[i] for i in ids if search[i] > 0),
            "rest.self_ms": med_ms(call[i] - search[i] for i in ids if call[i] > 0),
            "rest.body_kb": stats.median(self.body_kb) if self.body_kb else 0.0,
            "search.plan_ms": med_ms(per_op("search.plan").values()),
            "search.index_build_s": med_ms(tr.durations_anywhere("search.index_build")) / 1e3,
            "snapshots.commit_ms": med_ms(per_op("snapshots.commit").values()),
            "api.refresh_ms": med_ms(per_op("api.refresh").values()),
            "snapshots.read_ms": med_ms(per_op("snapshots.read").values()),
            "serve.store_s": med_ms(tr.durations_anywhere("serve.store")) / 1e3,
            "jvm.gc_ms_per_op": gc_ms / max(1, self.attempted),
            "jvm.heap_live_mb": jvm_heap_live_mb(self.spark),
            "spark.start_s": start_s,
        })
        if traced_ops:
            for k in ("jobs", "stages", "tasks"):
                m[f"spark.{k}_per_op"] = sum(o[k] for o in traced_ops) / len(traced_ops)
        on = self.latencies_ms(primary, traced=True)
        off = self.latencies_ms(primary, traced=False)
        if on and off:
            m["trace.overhead_ms"] = stats.median(on) - stats.median(off)
        counts = {o["op"]: o for o in tr.ops}
        for mod, ops in self.per_module.items():
            m[f"{mod}.wall_s"] = sum(ops.values())
            m[f"{mod}.jobs"] = float(sum(counts[i]["jobs"] for i in ops))
            m[f"{mod}.tasks"] = float(sum(counts[i]["tasks"] for i in ops))
        m.update({k: v for k, v in self.extra.items() if k in m})
        return m


def _alternate(i: int, round_len: int) -> bool:
    """Traced runs trace every other operation, shifting by one each
    round so every stratum is traced and untraced equally often."""
    return (i + i // round_len) % 2 == 0


def _expecter(ev_or, ds_or):
    def expect(req):
        if req.kind == "events":
            return ev_or.expect(req), None
        return ds_or.expect(req), ds_or.boost_of
    return expect


def result_digest(cols: list[str], rows) -> dict:
    """Row count, column set and a hash of the order-insensitive value
    multiset, normalized as the repository's oracle gate does."""
    from tools.check_oracle import _normalize

    digest = hashlib.sha256("\n".join(_normalize([tuple(r) for r in rows], cols)).encode())
    return {"rows": len(rows), "columns": sorted(cols), "sha256": digest.hexdigest()}


def compare_with_oracle(cols: list[str], rows, oracle: dict) -> str | None:
    got = result_digest(cols, rows)
    if got["rows"] != oracle["rows"]:
        return f"rows {got['rows']} != oracle {oracle['rows']}"
    if got["columns"] != oracle["columns"]:
        return f"columns {got['columns']} != oracle {oracle['columns']}"
    if got["sha256"] != oracle["sha256"]:
        return "values differ from the oracle"
    return None


def corpus_dir(work: str) -> str:
    return os.path.join(work, f"corpus-sf{SF:g}")


def _stores(root: str, since: float) -> list[str]:
    """The serving stores written for the current corpus: every entry
    one level inside the warehouse's store directories modified at or
    after ``since`` (the corpus's creation; stores are keyed on the
    corpus files' size and mtime, so older entries serve superseded
    corpora, which the library prunes), in-flight builds excluded."""
    wh = os.path.join(root, "spark-warehouse")
    out = []
    for sub in sorted(os.listdir(wh)) if os.path.isdir(wh) else ():
        if os.path.isdir(os.path.join(wh, sub)):
            out += [f"{sub}/{e}" for e in sorted(os.listdir(os.path.join(wh, sub)))
                    if ".build-" not in e and os.stat(os.path.join(wh, sub, e)).st_mtime >= since]
    return out


def is_prepared(root: str) -> bool:
    """True when the corpus, the oracle digests and every store the
    last preparation left are all still on disk."""
    path = os.path.join(corpus_dir(os.path.join(root, ".bench_build", "perfbench")), PREPARED)
    if not os.path.exists(path):
        return False
    with open(path) as fh:
        stores = json.load(fh)["stores"]
    wh = os.path.join(root, "spark-warehouse")
    return all(os.path.exists(os.path.join(wh, s)) for s in stores)


def prepare(root: str) -> None:
    """Bring a checkout to the state every run starts from, in a process
    of its own so no measured run pays for (or counts the memory of) a
    build. Generates the sf0.1 corpus with the repository's generator
    (seed-independent), builds every serving store the workloads read
    (the catalog's stores, and whatever the registry subset
    materializes, by running each subset query to rows), checks those
    rows against each query's DuckDB oracle, and records the oracle
    digests the registry runs compare with."""
    import duckdb

    from tools import gen_sf

    work = os.path.join(root, ".bench_build", "perfbench")
    corpus = corpus_dir(work)
    spec, want = os.path.join(corpus, "_SPEC"), f"tools/gen_sf.py {SF}\n"
    if not os.path.exists(spec) or open(spec).read() != want:
        # the marker is written last: a half-written corpus regenerates
        shutil.rmtree(corpus, ignore_errors=True)
        gen_sf.gen(SF, corpus)
        with open(spec, "w") as fh:
            fh.write(want)
    spark = start_spark(work, False)
    try:
        from metastore_spark import catalog
        from metastore_spark.queries import REGISTRY

        import __spark_entry__  # noqa: F401  (registers every queries_* module)

        catalog.load_tables(spark, corpus)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
        oracles = {}
        for name in (REGISTRY_WARMUP,) + REGISTRY_SUBSET:
            spark.catalog.clearCache()
            sdf = REGISTRY[name].fn(spark, corpus)
            cols, rows = [c.lower() for c in sdf.columns], sdf.collect()
            rel = con.execute(REGISTRY[name].oracle)
            oracles[name] = result_digest([d[0].lower() for d in rel.description], rel.fetchall())
            problem = compare_with_oracle(cols, rows, oracles[name])
            log(f"prepared {name}: {problem or 'matches its oracle'}")
        con.close()
    finally:
        stop_spark(spark)
    with open(os.path.join(corpus, PREPARED), "w") as fh:
        json.dump({"stores": _stores(root, os.stat(spec).st_mtime), "oracles": oracles}, fh, indent=1)


def start_spark(work: str, trace: bool):
    from metastore_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    # Fixed heap and young generation: left to GC ergonomics, the heap
    # grew differently from run to run and peak RSS spread 10-18 %
    # between identical runs; pinned, it spreads under 1 %.
    extra = {"spark.driver.extraJavaOptions": (
        f"-Xlog:disable -Djava.io.tmpdir={tmp} -Xms{mem} "
        f"-XX:NewSize={YOUNG_GEN} -XX:MaxNewSize={YOUNG_GEN}"
    )}
    if trace:
        # keep every job of the run in the status tracker until the
        # counts are read at the end
        extra.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=extra)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


WORKLOADS = ("search_filter", "search_relevance", "ingest_search", "registry_batch")


def run(workload: str, seed: int, seconds: int, trace: bool, root: str) -> dict:
    work = os.path.join(root, ".bench_build", "perfbench")
    corpus = corpus_dir(work)
    t0 = time.perf_counter()
    spark = start_spark(work, trace)
    start_s = time.perf_counter() - t0
    log("spark started")
    try:
        bench = Bench(spark, work, corpus, seed, seconds, trace)
        if trace:
            bench.tracer.install()
        gc0 = jvm_gc_ms(spark)
        primary = getattr(bench, workload)()
        log("workload done")
        gc_ms = jvm_gc_ms(spark) - gc0
        jvm = jvm_pid(spark)
        if trace:
            metrics = bench.layer_metrics(primary, gc_ms, start_s)
            bench.tracer.uninstall()
            path = bench.tracer.write(os.path.join(work, "trace"), f"{workload}-seed{seed}", metrics)
            log(f"layer table: {path}")
            units = PER_LAYER
        else:
            metrics = bench.metrics(primary, jvm)
            units = END_TO_END
        return {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        stop_spark(spark)
