"""Physical-plan audit over every registered query.

Emits one markdown row per query: scans, exchanges (shuffles),
broadcasts, window nodes, Python (Arrow) nodes, generators, and the
red-flag columns a scale review looks for first — cartesian products,
row-at-a-time Python UDFs, and unpartitioned windows over non-aggregate
inputs.  Plans are ANALYZED, not executed (except where noted AQE
re-planning would change the picture, which the per-query tests cover).

Caveat: ~20 plan functions call localCheckpoint(eager=True) for a
deterministic single materialization across branches, so fn() itself
HAS execution side effects — "plan-only" audit still runs those
upstream jobs (at the tiny default sf0.001 this is seconds, not
minutes; see operators/stats.py module docstring for the tradeoff).

Usage:  python tools/audit_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Bounded-grain allowlist for UNPARTITIONED window order columns (the
# r06 single-partition-window sweep, mechanized so it cannot silently
# regress).  An unpartitioned Window is fine iff its input cardinality
# is bounded regardless of data scale: calendar grains (days, weeks,
# months, hours, dow, fiscal periods), fixed bin/decile/band/digit
# domains, distinct bounded dimension values (flags, priorities,
# segments, brands, nations, regions, types), `_bkt`-prefixed bucket
# columns, or a top-k-limited input (GlobalLimit/TakeOrderedAndProject
# feeding the window).  Anything else is flagged for review: a global
# rank/prefix over documents, users, events, vocab, or distinct metric
# values runs as Spark's ordered window unless a measurement shows a
# hand-rolled distributed form winning (CLAUDE.md).
_BOUNDED_ORDER_COL = re.compile(
    r"""(?ix) ^(
        _?bkt\w* | \w*_bkt\w*            # skeleton bucket-offset branch
      | \w*(day|date|week|month|year|hour|minute|dow|dom|qtr|quarter
            |period|fiscal)\w*           # calendar grains
      | (w|d|m|y|ym|yw|wk|mo|hr|dt|ts_h|_w\d*)  # short calendar aliases
      | \w*(bin|bucket|decile|quantile|percentile|band|digit|grade
            |bracket|tier|level|stratum|log2|pow2|magnitude|k$|_k_
            |hop|depth|round|iter|lag_h|offset)\w*  # fixed domains
      | \w*(flag|status|priority|segment|mode|method|kind|class
            |category|type)\w*           # low-cardinality dimensions
      | \w*(brand|nation|region|mktsegment|mfgr|container|source
            |lang|topic|shipmode|returnflag|linestatus)\w*  # bounded dims
      | (n|cnt|count|freq|share|rate|ratio|pct|ppm|rev|total|sum|avg
         |mean|med|median|min|max|std|var|score|delta|diff|slope|lift
         |support|conf)\w{0,24}          # aggregate outputs of a bounded
                                         # group-by feeding a tiny rank
                                         # (NOT value/val/dist/gap —
                                         # distinct-metric-value grain
                                         # scales with data and must be
                                         # bucketed, CLAUDE.md)
    )$"""
)


def _window_audit(plan: str) -> tuple[int, list[str]]:
    """(n_unpartitioned_windows, flags) — flag every unpartitioned
    Window whose order columns are not provably bounded-grain and whose
    plan shows no top-k limit feeding it."""
    n_unpart = 0
    flags: list[str] = []
    has_limit = (
        "TakeOrderedAndProject" in plan
        or "GlobalLimit" in plan
        or "WindowGroupLimit" in plan
    )
    for line in plan.splitlines():
        m = re.search(r"\bWindow \[", line)
        if not m:
            continue
        # a fully-specified Window line carries three top-level bracket
        # groups (exprs, partition, order) = two "], [" separators; one
        # separator means either partition-only (no ASC/DESC in the
        # last group — fine, hash-partitioned) or order-only (a truly
        # unpartitioned sort window — the thing to audit)
        if line.count("], [") != 1:
            continue
        order = line.rsplit("], [", 1)[1].rstrip("]")
        if " ASC" not in order and " DESC" not in order:
            continue  # partition-only window
        n_unpart += 1
        cols = re.findall(r"(\w+)#\d+", order)
        # boundedness is a property of the window INPUT grain: if any
        # order column names a bounded grain, the remaining columns are
        # tie-breaks at that grain (e.g. dense topic ids ordered by
        # (first_ts, topic))
        if not any(_BOUNDED_ORDER_COL.match(c) for c in cols):
            if not has_limit:
                flags.append(
                    "unbounded-window:" + ",".join(sorted(set(cols)))
                )
    return n_unpart, flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from mqtt2sql_spark.registry import all_specs
    from mqtt2sql_spark.session import get_spark

    spark = get_spark("audit_plans", cpus=4, shuffle_partitions=4)
    jvm = spark.sparkContext._jvm

    print(f"# Physical-plan audit ({sf_dir})")
    print()
    print(
        "| query | scans | shuffles | broadcasts | windows | unpart-win |"
        " arrow-py | generates | red flags |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    n_flagged = 0
    for name, spec in all_specs().items():
        try:
            df = spec.fn(spark, sf_dir)
            plan = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"
            )
        except Exception as e:  # pragma: no cover - surfaced in the report
            print(f"| {name} | ERROR: {str(e).splitlines()[0][:80]} |")
            n_flagged += 1
            continue
        scans = len(re.findall(r"FileScan parquet|Scan parquet", plan))
        shuffles = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        bcasts = plan.count("BroadcastExchange")
        windows = plan.count("Window ") + plan.count("WindowGroupLimit")
        arrow = (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        )
        gens = plan.count("Generate ")
        n_unpart, flags = _window_audit(plan)
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BatchEvalPython" in plan or "PythonUDTF" in plan:
            flags.append("row-at-a-time-py")
        if any(
            f == "cartesian"
            or f == "row-at-a-time-py"
            or f.startswith("unbounded-window:")
            for f in flags
        ):
            n_flagged += 1
        print(
            f"| {name} | {scans} | {shuffles} | {bcasts} | {windows} |"
            f" {n_unpart} | {arrow} | {gens} | {', '.join(flags) or '—'} |"
        )
    print()
    print(f"red-flagged queries: {n_flagged}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
