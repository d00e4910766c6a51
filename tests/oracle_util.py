"""Order-insensitive differential compare: Spark result vs DuckDB oracle.

Mirrors the driver's check (SURVEY.md §5.2): row count, column names
(sorted), and an order-insensitive value comparison — but STRICTER
than numeric equality. Round 4 proved the driver canonicalizes values
to strings before hashing: 18 externally hash-failing queries were all
"bit-exact" under tuple ``==`` (because ``-1 == -1.0`` and
``123 == Decimal(123)``) yet every one had a cross-engine TYPE-CLASS
mismatch (DuckDB HUGEINT/DECIMAL/TINYINT vs Spark BIGINT/DOUBLE) that
renders differently under ``str()``. So the local gate now compares
TYPE-TAGGED canonical strings: ``-1`` (int) vs ``-1.0`` (float) is a
mismatch here exactly as it is in the driver's hash, ``-0.0`` differs
from ``0.0``, and floats compare by exact ``repr`` (shortest
round-trip — identical iff the BITS are identical), not by rounded
value. VERDICT r4 item 5: ``float_digits=None`` (exact) is the
default; pass an int only for diagnostics, never for gating.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal


def _canon_cell(v, float_digits: int | None) -> str:
    """Type-tagged canonical string for one cell. Two cells agree iff
    any string-canonicalizing comparator (the driver's hash, a pandas
    ``astype(str)``, a CSV dump) would agree on them."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "b:T" if v else "b:F"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        if float_digits is not None:
            return f"f:{round(v, float_digits)!r}"
        return f"f:{v!r}"  # exact: repr is shortest-round-trip
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, Decimal):
        # Decimal outputs are banned (test_output_type_contract) —
        # tag them distinctly so a leak fails loudly.
        return f"dec:{v}"
    if isinstance(v, datetime):
        return f"t:{v.isoformat()}"
    if isinstance(v, date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x, float_digits) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}={_canon_cell(x, float_digits)}" for k, x in sorted(v.items())
        ) + "}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def canonical_rows(rows: list[dict], float_digits: int | None = None
                   ) -> list[tuple[str, ...]]:
    """Sorted list of type-tagged canonical row tuples (columns in
    sorted-name order) — the comparison form for both engines."""
    out = []
    for r in rows:
        out.append(tuple(_canon_cell(r[k], float_digits) for k in sorted(r)))
    out.sort()
    return out


def assert_matches_oracle(spark_df, duck, sql: str,
                          float_digits: int | None = None, rows=None):
    """``rows``: the already-collected ``spark_df`` rows, if any."""
    if rows is None:
        rows = spark_df.collect()
    s_rows = [r.asDict(recursive=True) for r in rows]
    d = duck.execute(sql)
    cols = [c[0] for c in d.description]
    d_rows = [dict(zip(cols, row)) for row in d.fetchall()]

    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(cols)
    assert s_cols == d_cols, f"schema mismatch: spark={s_cols} duckdb={d_cols}"

    s_norm = canonical_rows(s_rows, float_digits)
    d_norm = canonical_rows(d_rows, float_digits)
    if s_norm != d_norm:
        diffs = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:5]
        raise AssertionError(f"value mismatch; first diffs: {diffs}")


def derived_fixture(d: str, src_dir: str, table: str, select_sql: str):
    """Build fixture dir ``d`` from ``src_dir``: ``table`` rewritten by
    DuckDB as ``select_sql`` (which reads ``{src}``, the source table),
    every other table copied through. Returns a DuckDB connection with
    a view per table of ``d``, for the oracle side."""
    import shutil

    import duckdb

    from mapreducewordcounting_spark.catalog import TABLES

    con = duckdb.connect()
    src = f"'{src_dir}/{table}.parquet'"
    con.execute(f"COPY ({select_sql.format(src=src)}) "
                f"TO '{d}/{table}.parquet' (FORMAT PARQUET)")
    for t in TABLES:
        if t != table:
            shutil.copy(f"{src_dir}/{t}.parquet", f"{d}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    return con
