"""Time every registered query once (noop sink) and rank by cost.

The bench set covers the headline queries; this audit sweeps the WHOLE
registry so a regression in a non-headline plan can't hide.  Single
timed run per query (after one shared session warmup) — coarse, but
enough to rank hotspots for a deeper best-of-N look.  Each query runs
under its own job group, and its Spark job count (plan-construction
snapshots included) prints beside its time.

Usage:  python tools/time_queries.py [sf_dir] [top_n]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 25

    from mqtt2sql_spark.registry import all_specs
    from mqtt2sql_spark.session import get_spark

    spark = get_spark("time_queries")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()  # JVM warmup

    timings: dict[str, tuple[float, int]] = {}
    for name, spec in all_specs().items():
        try:
            timings[name] = time_query(spark, name, spec.fn, sf_dir)
        except Exception as e:  # pragma: no cover
            print(f"ERROR {name}: {str(e).splitlines()[0][:100]}")
    total = sum(t for t, _ in timings.values())
    jobs = sum(j for _, j in timings.values())
    print(
        f"# {len(timings)} queries, {total:.1f}s total, {jobs} jobs"
        f" at {sf_dir}"
    )
    for name, (t, j) in sorted(timings.items(), key=lambda kv: -kv[1][0])[
        :top_n
    ]:
        print(f"{t:8.3f}  {j:4d}  {name}")
    return 0


def time_query(spark, name: str, fn, sf_dir: str) -> tuple[float, int]:
    """(seconds, Spark jobs) of building ``fn`` and writing it to the
    noop sink, counted under a job group named after the query."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        elapsed = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return elapsed, len(sc.statusTracker().getJobIdsForGroup(name))


if __name__ == "__main__":
    sys.exit(main())
