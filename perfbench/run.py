"""Benchmark entry point.

    python3 perfbench/run.py --workload search_filter --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints progress to stderr and, as the
last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The first run in a checkout first
prepares it in a child process (corpus, serving stores, oracle
digests; see ``harness.prepare``). Exits non-zero without a result
when the library is missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import traceback

JVM_HEAP = "2g"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the preparation step, run in a child process of its own
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not args.prepare and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "metastore_spark", "__init__.py")):
        print("perfbench: run from a repository root holding metastore_spark/", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        # fixed JVM heap: the library's default is sized for large hosts
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the library too
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
    })
    os.environ.pop("SPARK_GRAFT_RAW_TABLES", None)
    sys.path.insert(0, root)

    # Everything the run prints, the JVM included, goes to stderr; the
    # result line is written to the original stdout.
    sys.stdout.flush()
    result_fd = os.dup(1)
    os.dup2(2, 1)

    import harness

    if args.prepare:
        harness.prepare(root)
        return 0
    if args.workload not in harness.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        if not harness.is_prepared(root):
            subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"], check=True)
        result = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    except Exception:
        traceback.print_exc()
        return 1
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
