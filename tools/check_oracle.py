"""Local emulation of the driver's t2 correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over the
same parquet dir, then compares row count, schema (sorted column names),
and an order-insensitive value hash.  Stricter than the driver is likely
to be: values are compared exactly after canonicalization (timestamps →
ISO strings, floats → repr of float64, bytes → hex).

Usage:  python tools/check_oracle.py [sf_dir] [query ...]

Exit status: 0 when every query matches, 1 on any parity failure, 2 when
the Spark JVM dies mid-run (the query it died on and the count left
unchecked are printed; those queries are not reported as failures).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, list):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            # Exact canonicalization: repr(float(v)) collided distinct
            # decimals above 2^53 to the same float repr — a false pass
            # in the very gate built to catch type-level divergence.
            # Normalize scale (1.50 / 1.500 → 1.5) and keep the
            # int-vs-decimal distinction by FORMAT (the "dec:" prefix),
            # not by lossy conversion.
            if v.is_nan():
                return "dec:NaN"
            # normalize() rounds at the ambient context precision
            # (default 28 significant digits), collapsing distinct
            # >=29-digit decimals to one canonical string — a
            # non-injective canonicalizer in a parity gate is a
            # false-pass hazard.  Normalize under a context wide
            # enough for the operand so it only strips trailing
            # zeros, never rounds.
            with decimal.localcontext() as ctx:
                ctx.prec = max(80, len(v.as_tuple().digits) + 2)
                s = format(v.normalize(), "f")
            if s in ("-0", "-0.0"):
                s = "0"
            return "dec:" + s
    except Exception:
        pass
    return str(v)


def arrow_type_violations(
    oracle_schema, spark_decimal_cols: set[str]
) -> list[str]:
    """The Arrow-type parity gate.

    The driver compares results via Arrow, where a DuckDB HUGEINT (any
    uncast ``sum(BIGINT)`` — aggregate or window) surfaces as
    decimal128(38,0) and hash-mismatches a Spark BIGINT even when every
    value is identical (witnessed: pack_sequences_greedy.start_off,
    embedding_kmeans_assign.dist_fp, red in CORRECTNESS_r03+r04).
    Reject any decimal-typed oracle column unless the Spark side is
    genuinely DecimalType.
    """
    import pyarrow as pa

    problems = []
    for field in oracle_schema:
        if (
            pa.types.is_decimal(field.type)
            and field.name not in spark_decimal_cols
        ):
            problems.append(
                f"oracle col '{field.name}' is Arrow {field.type} "
                "(uncast HUGEINT?) but Spark side is not decimal"
            )
    return problems


def df_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def jvm_gone(exc: BaseException) -> bool:
    """True when ``exc`` means py4j lost the Spark JVM (killed, e.g. by
    the OOM killer) rather than that a query failed."""
    from py4j.protocol import Py4JNetworkError

    while exc is not None:
        if isinstance(exc, (Py4JNetworkError, ConnectionError)):
            return True
        exc = exc.__cause__ or exc.__context__
    return False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from mqtt2sql_spark.registry import all_specs

    if os.environ.get("CHECK_ORACLE_VANILLA"):
        # driver-shaped session: none of our factory's configs (AQE,
        # broadcast threshold, Arrow, UTC tz) — queries must be correct
        # from fixtures.load_table's runtime confs alone
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.ui.enabled", "false")
            .appName("check_oracle_vanilla")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from mqtt2sql_spark.session import get_spark

        spark = get_spark("check_oracle")
    con = duckdb.connect()
    from mqtt2sql_spark.fixtures import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rowsonly = 0
    todo = [
        (name, spec) for name, spec in sorted(all_specs().items())
        if not only or name in only
    ]
    for i, (name, spec) in enumerate(todo):
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            if jvm_gone(e):
                print(f"ABORT {name}: the Spark JVM is gone ({e})")
                print(
                    f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} failed,"
                    f" {len(todo) - i} unchecked"
                )
                return 2
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        osql = spec.oracle_sql()
        if osql is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(osql)
            ocols = [d[0] for d in res.description]
            otable = res.arrow()
            orows = list(
                zip(*(otable.column(i).to_pylist()
                      for i in range(otable.num_columns)))
            ) if otable.num_columns else []
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            n_fail += 1
            continue
        spark_decimal_cols = {
            f.name for f in sdf.schema.fields
            if f.dataType.typeName().startswith("decimal")
        }
        problems = arrow_type_violations(otable.schema, spark_decimal_cols)
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            hs = df_digest(scols, srows)
            ho = df_digest(ocols, orows)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show first differing canonical line for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted(
                    "\x1f".join(canon_cell(r[i]) for i in order_s) for r in srows
                )
                lo = sorted(
                    "\x1f".join(canon_cell(r[i]) for i in order_o) for r in orows
                )
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"      spark : {a[:220]}")
                        print(f"      oracle: {b[:220]}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok    {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
