"""Query workload: one closed-loop client runs the registry's QuerySpec
builders over seeded sf0.1-shaped fixtures, writing each result to the
noop sink.  It bypasses the ingest path (sources, streaming, sinks) and
exercises plans, fixtures and the hand-rolled operators.

Set-up generates the tables twice from the seed, at sf0.1 for timing and
at sf0.01 for the correctness pass: that pass collects every query's
output and hashes it against its DuckDB oracle with the canonicalizer of
tools/check_oracle.py, and it warms the session.  At sf0.1 collecting and
hashing the ~100k-row outputs would take ~50 s, more than the timed
passes, so at sf0.1 set-up only counts each oracle's rows in DuckDB, and
every timed execution counts its own output rows through an Observation
(a CollectMetrics node above the query) and must match.  Timed passes
repeat until --seconds have elapsed: a pass takes about 12-15 s, so at
--seconds 10 there is one, and each query's time is a single timing.
Two passes made a run about 14 s longer without a steadier result (see
NOTES.md).  VIEW_QUERY is timed VIEW_EXTRA more times after the passes.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext

from harness import JobGroup, Run, median

# the paper's 13 core queries (registry._PRIORITY[:13]) ...
CORE = (
    "scan_events", "filter_exclude_topic", "filter_topic_wildcard",
    "project_message", "upsert_latest_per_topic", "assign_topic_ids",
    "history_enable_routing", "history_append_all", "history_diffonly",
    "history_view_join", "tz_render", "hex_roundtrip", "flip_history_flag",
)
# ... plus the three built on hand-rolled operators
OPERATORS = ("hot_topics_heavy_hitters", "salted_topic_counts",
             "bloom_pruned_revenue")
QUERY_SET = CORE + OPERATORS
VIEW_QUERY = "history_view_join"
SF = 0.1
SF_CHECK = 0.01
MIN_PASSES = 1
# extra timings of VIEW_QUERY after the passes, for a steadier median
VIEW_EXTRA = 2


def _duckdb(sf_dir: str):
    import duckdb

    from gen_tables import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _oracle_rows(specs, sf_dir: str) -> dict[str, int]:
    """Each query's output row count as its DuckDB oracle gives it."""
    con = _duckdb(sf_dir)
    rows = {q: con.execute(
        f"SELECT count(*) FROM ({specs[q].oracle_sql()})").fetchone()[0]
        for q in QUERY_SET}
    con.close()
    return rows


def _oracle_check(run: Run, specs, sf_dir: str) -> tuple[int, list[str]]:
    """Collect each query once and compare its canonical hash with the
    DuckDB oracle's; returns (queries checked, failures)."""
    sys.path.insert(0, os.path.join(run.root, "tools"))
    from check_oracle import df_digest

    con = _duckdb(sf_dir)
    failures = []
    for name in QUERY_SET:
        spec = specs[name]
        try:
            sdf = spec.fn(run.spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(spec.oracle_sql())
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # a query that errors is a failed operation
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if sorted(sdf.columns) != sorted(ocols) or (
            df_digest(sdf.columns, srows) != df_digest(ocols, orows)
        ):
            failures.append(f"{name}: output differs from its oracle")
    con.close()
    return len(QUERY_SET), failures


def start_inputs(run: Run) -> tuple[str, str]:
    from gen_tables import write_tables

    sf_dir, check_dir = run.path("sf"), run.path("sf_check")
    write_tables(sf_dir, run.seed, SF)
    write_tables(check_dir, run.seed, SF_CHECK)
    return sf_dir, check_dir


def run_queries(run: Run, inputs: tuple[str, str]) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mqtt2sql_spark import registry

    spark = run.spark
    sf_dir, check_dir = inputs
    if tuple(registry._PRIORITY[:13]) != CORE:
        raise RuntimeError("the registry's core query list changed")
    specs = registry.all_specs()
    checked, failures = _oracle_check(run, specs, check_dir)
    want_rows = _oracle_rows(specs, sf_dir)
    setup_end = time.time()

    times: dict[str, list[float]] = {q: [] for q in QUERY_SET}
    builds: dict[str, list[float]] = {q: [] for q in QUERY_SET}
    jobs: dict[str, list[int]] = {q: [] for q in QUERY_SET}
    groups: dict[str, list[str]] = {q: [] for q in QUERY_SET}
    view_times = times[VIEW_QUERY]
    passes = 0
    while passes < MIN_PASSES or time.time() - setup_end < run.seconds:
        for q in QUERY_SET:
            group = f"q-{q}-{passes}"
            with JobGroup(spark, group) if run.trace else nullcontext() as g:
                t0 = time.time()
                df = specs[q].fn(spark, sf_dir)
                t1 = time.time()
                rows = Observation()
                df.observe(rows, F.count(F.lit(1)).alias("n")).write.format(
                    "noop").mode("overwrite").save()
                t2 = time.time()
            run.tracer.add("build", "plans", t0, t1, ref=q)
            run.tracer.add("exec", "plans", t1, t2, ref=q)
            times[q].append(t2 - t0)
            builds[q].append(t1 - t0)
            got = rows.get["n"]
            if got != want_rows[q]:
                failures.append(f"{q}: {got} rows at sf{SF} in pass "
                                f"{passes}, its oracle {want_rows[q]}")
            if run.trace:
                jobs[q].append(g.counts()[0])
                groups[q].append(group)
        passes += 1
    for _ in range(VIEW_EXTRA):
        t0 = time.time()
        specs[VIEW_QUERY].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        view_times.append(time.time() - t0)

    for f in failures:
        print(f"queries  FAIL {f}", file=sys.stderr)
    per_query = {q: median(ts[:passes]) for q, ts in times.items()}
    queries_s = sum(per_query.values())
    layers = {}
    for q in QUERY_SET:
        layers[f"plans.{q}.build_s"] = median(builds[q])
        layers[f"plans.{q}.exec_s"] = median(
            t - b for t, b in zip(times[q], builds[q]))
        if run.trace:
            layers[f"plans.{q}.jobs"] = median(jobs[q])
    attempted = checked + passes * len(QUERY_SET)
    return {
        "setup_end": setup_end,
        "e2e": {
            "throughput_per_s": len(QUERY_SET) / queries_s,
            "view_query_s": median(view_times),
        },
        "layers": layers,
        "check": {"attempted": attempted, "failed": len(failures),
                  "correct": not failures},
        "groups": {"plans": groups},
        "notes": {"passes": passes, "queries_s": queries_s,
                  "per_query_s": per_query, "failures": failures},
    }

