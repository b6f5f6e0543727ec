"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf_dir, runs the
matching ``oracle_sql()`` in DuckDB over the same parquet files, and
compares row count, column-name set, and an order-insensitive value
multiset (floats compared exactly — our queries round on both sides,
so any drift is a real bug).

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Set CHECK_ORACLE_JSON=<path> to also write a driver-style JSON report
({query: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}) — used to commit SELFCHECK_r{N}.json so queries
the driver's 50-query sample never reached still carry an
oracle-checked record.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = repr(v)  # full precision — stricter than the driver
            vals.append(str(v))
        out.append("\x00".join(vals))
    return sorted(out)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # CHECK_ORACLE_SKIP refusal runs BEFORE Spark startup: only
    # validation_only-tagged queries may be skipped (VERDICT r9
    # what's-wrong #1) — the tag names the scale-safe sibling that
    # does run, so a skip can never silently drop production coverage.
    from metastore_spark.queries import REGISTRY

    requested_skip = {
        s for s in os.environ.get("CHECK_ORACLE_SKIP", "").split(",") if s
    }
    bad_skip = sorted(
        s
        for s in requested_skip
        if s not in REGISTRY or not REGISTRY[s].validation_only
    )
    if bad_skip:
        print(
            "CHECK_ORACLE_SKIP refused — not validation_only-tagged: "
            + ", ".join(bad_skip),
            file=sys.stderr,
        )
        return 2

    if os.environ.get("ORACLE_GET_SPARK"):
        from metastore_spark.session import get_spark

        spark = get_spark("oracle-check")
    else:
        # Default: a VANILLA session like the driver's — no builder
        # confs from this repo. Catches anything that silently
        # depends on get_spark()'s configuration (the round-2 lesson).
        from pyspark.sql import SparkSession

        from metastore_spark.session import env_setting

        cpus = env_setting("SPARK_GRAFT_CPUS")
        spark = (
            SparkSession.builder.appName("oracle-check-vanilla")
            .master(f"local[{cpus}]")
            .getOrCreate()
        )
    # CHECK_ORACLE_SPLIT_MB: scan split size override for large-SF
    # sweeps. The shipped fixtures are SINGLE parquet files per table;
    # at sf1 a ~100 MB file under the default 128 MB maxPartitionBytes
    # scans as ONE partition and serializes the whole sweep. Real
    # deployments read many files, so the engine default stays 128 MB
    # — this is a fixture-shape corrective, runtime-settable.
    split_mb = os.environ.get("CHECK_ORACLE_SPLIT_MB")
    if split_mb:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            str(int(split_mb) * 1024 * 1024),
        )
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # CHECK_ORACLE_ROWS_ONLY: comma-separated query names whose ORACLE
    # is skipped (Spark side still runs, rows-only) — used for
    # large-SF sweeps where a handful of oracles are deliberately
    # all-pairs SQL twins of pruned Spark paths: the O(n^2) oracle is
    # only tractable at the driver's oracle SF (0.01), while the
    # Spark side must still be exercised at scale.
    rows_only = {
        s
        for s in os.environ.get("CHECK_ORACLE_ROWS_ONLY", "").split(",")
        if s
    }
    # CHECK_ORACLE_SKIP: full skip (Spark side too), recorded as
    # skipped — for queries whose OUTPUT is corpus-degenerate at the
    # sweep SF (e.g. token-SET jaccard on a 30-word-vocab corpus:
    # every pair qualifies, so the result itself is O(n^2) rows).
    # Tag-gated above, before Spark startup.
    skip = requested_skip
    failed = []
    report: dict[str, dict] = {}
    out_path = os.environ.get("CHECK_ORACLE_JSON")

    def _flush() -> None:
        # incremental: a sweep that dies (OOM, stuck oracle, kill)
        # keeps every completed record — at sf1 a single run is ~40
        # minutes and partial evidence is still evidence
        if not out_path:
            return
        import json

        with open(out_path, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "ts": int(time.time()), "results": report},
                fh,
                indent=1,
                default=str,
            )

    # api_*/search_* first: the driver's correctness sample hasn't
    # drawn those families since r3, so the committed selfcheck keeps
    # the freshest O3/O4/O13 evidence front-and-center — and a sweep
    # that dies mid-run still banked them (VERDICT r5 task 7).
    ordered = sorted(
        qs.items(),
        key=lambda kv: (
            not kv[0].startswith(("api_", "search_")),
            kv[0],
        ),
    )
    for name, fn in ordered:
        if only and name not in only:
            continue
        if name in skip:
            print(f"skip {name}: CHECK_ORACLE_SKIP")
            report[name] = {"skipped": True, "err": None}
            _flush()
            continue
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        report[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = [c.lower() for c in sdf.columns]
            spark_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(spark_rows)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            rec["err"] = f"spark error: {e}"
            failed.append(name)
            continue
        t_spark = time.time() - t0
        rec["spark_sec"] = round(t_spark, 1)
        if name not in oracles or name in rows_only:
            why = "rows-only" if name not in oracles else "oracle-skipped"
            print(f"ok   {name}: {why} ({len(spark_rows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            rec["rows_match"] = why
            _flush()
            continue
        t1 = time.time()
        try:
            rel = con.execute(oracles[name])
            duck_cols = [d[0].lower() for d in rel.description]
            duck_rows = rel.fetchall()
            rec["oracle_rows"] = len(duck_rows)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            rec["err"] = f"duckdb error: {e}"
            failed.append(name)
            continue
        problems = []
        rec["rows_match"] = len(spark_rows) == len(duck_rows)
        rec["schema_match"] = sorted(spark_cols) == sorted(duck_cols)
        if not rec["rows_match"]:
            problems.append(f"rowcount {len(spark_rows)} != {len(duck_rows)}")
        if not rec["schema_match"]:
            problems.append(f"cols {sorted(spark_cols)} != {sorted(duck_cols)}")
        if not problems:
            s = _normalize(spark_rows, spark_cols)
            d = _normalize(duck_rows, duck_cols)
            rec["hash_match"] = s == d
            if s != d:
                diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            rec["oracle_sec"] = round(time.time() - t1, 1)
            print(f"ok   {name}: {len(spark_rows)} rows match "
                  f"({time.time()-t0:.1f}s = spark {t_spark:.1f}s"
                  f" + oracle {rec['oracle_sec']}s)")
        _flush()
    _flush()
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
