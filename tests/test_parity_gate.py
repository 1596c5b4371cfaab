"""Regression tests for the cross-engine parity tooling itself.

Round 3/4 lost two rounds to a gap in the local gate: DuckDB HUGEINT
results compared equal to Spark BIGINT via fetchall() but diverged at
the driver, which compares via Arrow (decimal128 vs int64).  These
tests pin the tooling behaviors that closed that gap, so a future
refactor can't silently reopen it.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from check_oracle import arrow_type_violations, canon_cell, df_digest  # noqa: E402


# --- the Arrow decimal gate ---------------------------------------------------


def test_uncast_hugeint_sum_is_flagged():
    """DuckDB sum(BIGINT) -> HUGEINT -> Arrow decimal128: must FAIL the
    gate when the Spark side is not decimal (the r03/r04 red class)."""
    con = duckdb.connect()
    t = con.execute(
        "SELECT sum(CAST(i AS BIGINT)) AS total FROM range(10) t(i)"
    ).arrow()
    problems = arrow_type_violations(t.schema, spark_decimal_cols=set())
    assert len(problems) == 1
    assert "total" in problems[0]
    assert "decimal128" in problems[0]


def test_window_sum_hugeint_is_flagged():
    """Window sum(BIGINT) is HUGEINT too (pack_sequences_greedy's exact
    failure shape)."""
    con = duckdb.connect()
    t = con.execute(
        "SELECT sum(CAST(i AS BIGINT)) OVER (ORDER BY i) AS run "
        "FROM range(5) t(i)"
    ).arrow()
    assert arrow_type_violations(t.schema, spark_decimal_cols=set())


def test_cast_bigint_passes():
    con = duckdb.connect()
    t = con.execute(
        "SELECT CAST(sum(CAST(i AS BIGINT)) AS BIGINT) AS total "
        "FROM range(10) t(i)"
    ).arrow()
    assert arrow_type_violations(t.schema, spark_decimal_cols=set()) == []


def test_decimal_allowed_when_spark_side_is_decimal():
    con = duckdb.connect()
    t = con.execute("SELECT CAST(1 AS DECIMAL(38,0)) AS d").arrow()
    assert arrow_type_violations(t.schema, {"d"}) == []
    assert arrow_type_violations(t.schema, set())


def test_decimal_literal_arithmetic_is_flagged():
    """BIGINT * decimal literal (e.g. `bucket * 50000.0`) promotes to
    DECIMAL in DuckDB (orders_price_histogram's failure shape)."""
    con = duckdb.connect()
    t = con.execute(
        "SELECT CAST(i AS BIGINT) * 50000.0 AS lo FROM range(3) t(i)"
    ).arrow()
    assert arrow_type_violations(t.schema, spark_decimal_cols=set())


def test_canonical_hash_distinguishes_decimal_from_int():
    """The fetchall() gap: python int(45) == Decimal(45) canonicalize
    differently, so the digest (like the driver's) must differ."""
    import decimal

    assert canon_cell(45) != canon_cell(decimal.Decimal(45))
    hi = df_digest(["x"], [(45,)])
    hd = df_digest(["x"], [(decimal.Decimal(45),)])
    assert hi != hd


def test_canon_cell_decimal_exact_above_float_precision():
    """Decimal canonicalization must be exact, not via float: two
    decimals differing only beyond 2^53 used to collide to the same
    repr(float(v)) and hash green in the gate built to catch
    type-level divergence (r06 ADVICE)."""
    import decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    a = decimal.Decimal(2**60)
    b = a + 1  # float(a) == float(b)
    assert float(a) == float(b)
    assert canon_cell(a) != canon_cell(b)
    # scale-insensitive equality: 1.50 and 1.5 are the same value
    assert canon_cell(decimal.Decimal("1.50")) == canon_cell(
        decimal.Decimal("1.5")
    )
    assert canon_cell(decimal.Decimal("-0.00")) == canon_cell(
        decimal.Decimal("0")
    )

    @settings(max_examples=500, deadline=None)
    @given(
        st.decimals(
            allow_nan=False,
            allow_infinity=False,
            min_value=-(10**30),
            max_value=10**30,
        ),
        st.decimals(
            allow_nan=False,
            allow_infinity=False,
            min_value=-(10**30),
            max_value=10**30,
        ),
    )
    def eq_iff_equal(x, y):
        assert (canon_cell(x) == canon_cell(y)) == (x == y)

    eq_iff_equal()


# --- the compared-surface invariant -------------------------------------------


def test_no_dollar_render_on_compared_surfaces():
    """No plan may round integer cents back to a dollar double on the
    compared surface: round(cents/100.0, 2) hash-diverged at the driver
    even with exact integer inputs (promo_revenue_share,
    part_value_share — red in r03+r04).  Emit the *_cents BIGINT
    instead.  If a future query needs this pattern in a genuinely
    non-compared intermediate, restructure so the pattern string does
    not appear (compute the double on the consumer side)."""
    offenders = []
    # Whole-file, whitespace-tolerant match: the pattern must not evade
    # the guard just because house style puts the closing paren (or an
    # optional trailing comma) on the next line, e.g.
    #   F.round(
    #       x / 100.0, 2
    #   ).alias(...)
    pat = re.compile(r"/\s*100\.0\s*,\s*2\s*,?\s*\)")
    for f in (REPO / "mqtt2sql_spark" / "plans").glob("*.py"):
        text = f.read_text()
        for m in pat.finditer(text):
            lineno = text.count("\n", 0, m.start()) + 1
            snippet = " ".join(m.group(0).split())
            offenders.append(f"{f.name}:{lineno}: {snippet}")
    assert not offenders, "\n".join(offenders)


# --- the driver-gate window ----------------------------------------------------


CORE_13 = (
    "scan_events", "filter_exclude_topic", "filter_topic_wildcard",
    "project_message", "upsert_latest_per_topic", "assign_topic_ids",
    "history_enable_routing", "history_append_all", "history_diffonly",
    "history_view_join", "tz_render", "hex_roundtrip", "flip_history_flag",
)


def _latest_witness() -> dict[str, dict]:
    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (json.JSONDecodeError, OSError):
            continue
        for name, rec in rows.items():
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, rec if isinstance(rec, dict) else {})
    return {n: rec for n, (_, rec) in latest.items()}


def test_priority_window_shape():
    """The driver's correctness gate records the FIRST 50 queries in
    all_specs() order, so _PRIORITY must stay exactly 50 valid names
    with the SURVEY §2 core pipeline pinned at the front."""
    from mqtt2sql_spark.registry import _PRIORITY, all_specs

    specs = all_specs()
    assert len(_PRIORITY) == 50
    assert len(set(_PRIORITY)) == 50
    assert all(n in specs for n in _PRIORITY)
    assert _PRIORITY[:13] == CORE_13
    assert list(specs)[:50] == list(_PRIORITY)


def test_red_queries_are_inside_the_window():
    """Any query red at its LATEST driver witness must be in the next
    window — a known-red fix that never re-witnesses stays red forever
    (the r04 process failure)."""
    from mqtt2sql_spark.registry import _PRIORITY

    window = set(_PRIORITY)
    for name, rec in _latest_witness().items():
        red = bool(rec.get("err")) or not (
            rec.get("rows_match", True)
            and rec.get("schema_match", True)
            and rec.get("hash_match", True)
        )
        if red:
            assert name in window, (
                f"{name} is red at its latest driver witness but absent "
                "from registry._PRIORITY — run tools/rotation_plan.py"
            )


def test_missing_plan_module_fails_loudly(monkeypatch):
    """A plan module that cannot be imported must fail the registry load:
    skipping it would silently drop a whole family of queries."""
    from mqtt2sql_spark import registry

    monkeypatch.setattr(
        registry,
        "_PLAN_MODULES",
        registry._PLAN_MODULES + ("mqtt2sql_spark.plans.no_such_module",),
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        registry._load()
