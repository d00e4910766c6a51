"""Driver-environment forensic probes (VERDICT r4, next-round item 1).

Round 4's hard red: 18 of 50 driver-sampled queries failed the value
hash while reproducing bit-exact locally (rows and schema green,
``err: null``). Local forensics this round found the cause — every
failing query had a cross-engine TYPE-CLASS divergence that numeric
``==`` cannot see but string canonicalization can:

* DuckDB ``sum(BIGINT)`` returns **HUGEINT** (int128). Its
  pandas/Arrow mapping is version-dependent (float64 in older builds,
  object/int in newer), so a driver that fetches oracle results via
  ``.df()``/``.arrow()`` renders ``123`` vs ``123.0`` — numerically
  equal, hash-unequal. All 18 r4 failures but one had a HUGEINT or
  DECIMAL oracle output column; ZERO externally-passing queries did.
* DuckDB ``sign()`` returns TINYINT where Spark ``signum`` returns
  DOUBLE (``-1`` vs ``-1.0``) — the one non-HUGEINT failure
  (``fn_trig``).
* DuckDB ``round(DOUBLE, n)`` preserves ``-0.0``; Spark's returns
  ``+0.0`` (measured locally: ``round(-4e-7, 6)`` → ``-0.0`` vs
  ``0.0``).

The fix landed registry-wide (every oracle/output now uses the
engine-portable type allowlist — see tests/test_output_type_contract).
But the r3 lesson is that a fix must be PROVEN in the driver's
environment, not assumed from a local model of it. This module is that
proof: a family of tiny, constant-cost probe queries at the head of
the priority window whose per-probe pass/fail bits (and, for the env
probes, their recorded ROW COUNTS) read back the driver environment
from CORRECTNESS_r05.json itself:

* ``probe_env_duckdb_version`` encodes the driver-side DuckDB version
  into the row count on BOTH sides (Python module on the Spark side,
  ``version()`` in the oracle) — ``spark_rows``/``oracle_rows`` in the
  artifact then literally print the two versions as
  ``major*10000 + minor*100 + patch`` even when they disagree.
* ``probe_env_pyarrow_version`` / ``probe_env_pandas_version`` do the
  same for the Arrow/pandas stack (rows-only: SQL cannot see Python
  package versions).
* The ``probe_type_*`` queries isolate ONE value-representation class
  each, with identical values on both sides. Two are deliberate
  SENTINELS for the diagnosed r4 bug classes:
  ``probe_type_hugeint_sum_uncast`` (an intentionally UNCAST integer
  sum — the exact pattern removed from the 33 fixed queries) and
  ``probe_type_decimal_raw`` (a DECIMAL(38,6) output — the pattern
  removed from validate_table_fingerprint/join_runtime_bloom_smj).
  If the diagnosis is right, r5's artifact shows exactly these two
  failing and every control passing; any other pattern localizes the
  real divergence to a specific type class without another round of
  guessing.

All probes pass the strict local gate (they are self-consistent in
any single environment); the sentinels only diverge where the
driver's oracle-fetch path diverges — which is the measurement.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mapreducewordcounting_spark.catalog import scan_table
from mapreducewordcounting_spark.registry import register


def _encode_version(ver: str) -> int:
    """'1.3.2' / 'v1.3.2.dev123' -> 10302-style int (major*10000 +
    minor*100 + patch); 1 if unparseable so the probe still runs.

    Each component is CLAMPED to 99, so 99 is an explicit ">=99"
    sentinel rather than silent aliasing (ADVICE r5: under the raw
    radix '1.0.100' and '1.1.0' both encoded to 10100). The clamp is
    chosen over a wider radix deliberately: the reading is a ROW
    COUNT the driver fully hashes, so a 1e6 radix would make a
    pyarrow 16.x readout a 16M-row result. Pre-release / 4th
    components are dropped by design — the probe distinguishes engine
    majors/minors (the hash-behavior boundary), not builds."""
    try:
        parts = ver.lstrip("v").split(".")
        digits = []
        for p in parts[:3]:
            d = ""
            for ch in p:         # LEADING digits only: '2rc1' -> 2,
                if not ch.isdigit():  # not 21
                    break
                d += ch
            digits.append(min(int(d), 99) if d else 0)
        while len(digits) < 3:
            digits.append(0)
        n = digits[0] * 10000 + digits[1] * 100 + digits[2]
        return n if n > 0 else 1
    except Exception:  # pragma: no cover - defensive
        return 1


_SQL_DUCK_VERSION_N = """
    least(CAST(string_split(replace(version(), 'v', ''), '.')[1]
               AS BIGINT), 99) * 10000
  + least(CAST(string_split(replace(version(), 'v', ''), '.')[2]
               AS BIGINT), 99) * 100
  + least(CAST(coalesce(nullif(regexp_extract(
        string_split(replace(version(), 'v', ''), '.')[3], '[0-9]+'), ''),
        '0') AS BIGINT), 99)
"""


@register(
    "probe_env_duckdb_version",
    oracle=f"SELECT unnest(range(0, ({_SQL_DUCK_VERSION_N}))) AS i",
    tags=("probe", "diagnostics", "env"),
)
def probe_env_duckdb_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count-encoded DuckDB version, both sides: the Spark side
    imports the ``duckdb`` Python module visible to the HARNESS
    process; the oracle asks the engine actually executing the SQL.
    The driver records spark_rows/oracle_rows even on mismatch, so the
    artifact itself reports both versions (local: 1.0.0 → 10000)."""
    try:
        import duckdb
        n = _encode_version(duckdb.__version__)
    except Exception:
        n = 1
    return spark.range(n).select(F.col("id").alias("i"))


@register(
    "probe_env_pyarrow_version",
    oracle=None,  # SQL cannot see Python package versions: rows-only
    tags=("probe", "diagnostics", "env"),
)
def probe_env_pyarrow_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count-encoded pyarrow version (rows-only by necessity —
    the count IS the reading; local: 17.0.0 → 170000)."""
    try:
        import pyarrow
        n = _encode_version(pyarrow.__version__)
    except Exception:
        n = 1
    return spark.range(n).select(F.col("id").alias("i"))


@register(
    "probe_env_pandas_version",
    oracle=None,  # rows-only: the count IS the reading
    tags=("probe", "diagnostics", "env"),
)
def probe_env_pandas_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count-encoded pandas version (rows-only)."""
    try:
        import pandas
        n = _encode_version(pandas.__version__)
    except Exception:
        n = 1
    return spark.range(n).select(F.col("id").alias("i"))


@register(
    "probe_type_bigint",
    oracle="""
        SELECT r_regionkey,
               CAST(r_regionkey AS BIGINT) * 1000000007 AS big_product,
               CAST(-r_regionkey AS BIGINT) AS neg
        FROM region
    """,
    tags=("probe", "diagnostics", "types"),
)
def probe_type_bigint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control: plain BIGINT values (products stay < 2^63, no HUGEINT
    promotion — DuckDB integer * promotes only through sum())."""
    r = scan_table(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        (F.col("r_regionkey").cast("long") * F.lit(1000000007))
        .alias("big_product"),
        (-F.col("r_regionkey")).cast("long").alias("neg"),
    )


@register(
    "probe_type_hugeint_sum_uncast",
    oracle="""
        SELECT r_regionkey % 2 AS grp,
               sum(CAST(r_regionkey AS BIGINT) * 1000000007) AS total
        FROM region GROUP BY r_regionkey % 2
    """,
    tags=("probe", "diagnostics", "types", "sentinel"),
)
def probe_type_hugeint_sum_uncast(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """SENTINEL: deliberately UNCAST integer sum — DuckDB returns
    HUGEINT here, Spark BIGINT. This is the exact pattern the r4
    forensics found in 17 of the 18 hash-failing queries (and removed
    from all of them). Expected: PASSES the local fetchall-based gate,
    FAILS the driver's hash iff the driver fetches oracle values via a
    version-divergent HUGEINT mapping. Its pass/fail bit in
    CORRECTNESS_r05.json is the experiment's readout."""
    r = scan_table(spark, sf_dir, "region")
    return (
        r.groupBy((F.col("r_regionkey") % 2).alias("grp"))
        .agg(F.sum(F.col("r_regionkey").cast("long") * F.lit(1000000007))
             .alias("total"))
    )


@register(
    "probe_type_bigint_sum_cast",
    oracle="""
        SELECT r_regionkey % 2 AS grp,
               CAST(sum(CAST(r_regionkey AS BIGINT) * 1000000007)
                   AS BIGINT) AS total
        FROM region GROUP BY r_regionkey % 2
    """,
    tags=("probe", "diagnostics", "types"),
)
def probe_type_bigint_sum_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control twin of the HUGEINT sentinel: identical values with the
    repo-wide ``CAST(sum(...) AS BIGINT)`` fix applied. sentinel=FAIL +
    this=PASS in the same artifact is the confirmed diagnosis."""
    r = scan_table(spark, sf_dir, "region")
    return (
        r.groupBy((F.col("r_regionkey") % 2).alias("grp"))
        .agg(F.sum(F.col("r_regionkey").cast("long") * F.lit(1000000007))
             .alias("total"))
    )


@register(
    "probe_type_decimal_raw",
    oracle="""
        SELECT r_regionkey,
               CAST(r_regionkey + 0.123456 AS DECIMAL(38,6)) AS dec_v
        FROM region
    """,
    tags=("probe", "diagnostics", "types", "sentinel"),
)
def probe_type_decimal_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTINEL: DECIMAL output column on both sides — the class
    removed from validate_table_fingerprint / join_runtime_bloom_smj.
    DECIMAL→pandas/Arrow mapping is duckdb-version-dependent (float64
    in older builds, decimal object in newer) and Spark's Decimal
    renders with fixed scale, so a string-canonicalizing hash diverges
    wherever the fetch paths do."""
    r = scan_table(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        (F.col("r_regionkey") + F.lit(0.123456)).cast("decimal(38,6)")
        .alias("dec_v"),
    )


@register(
    "probe_type_double",
    oracle="""
        SELECT r_regionkey,
               r_regionkey / 7.0 AS ratio,
               r_regionkey * 1e-7 AS tiny,
               r_regionkey * 1e20 AS huge,
               1.0 / 3.0 + r_regionkey AS third
        FROM region
    """,
    tags=("probe", "diagnostics", "types"),
)
def probe_type_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control: raw DOUBLE values spanning magnitude regimes where
    string formats historically differ (subnormal-ish, scientific,
    17-significant-digit shortest-repr). Both engines compute the same
    IEEE bits; a hash fail here would mean the driver canonicalizes
    float VALUES differently per engine, not a formatting change."""
    r = scan_table(spark, sf_dir, "region")
    k = F.col("r_regionkey")
    return r.select(
        "r_regionkey",
        (k / 7.0).alias("ratio"),
        (k * 1e-7).alias("tiny"),
        (k * 1e20).alias("huge"),
        (F.lit(1.0) / 3.0 + k).alias("third"),
    )


@register(
    "probe_type_double_negzero",
    oracle="""
        SELECT r_regionkey,
               (-CAST(0.0 AS DOUBLE)) * (r_regionkey + 1.0) AS neg_zero,
               (-CAST(0.0 AS DOUBLE)) * (r_regionkey + 1.0) + 0.0
                   AS neg_zero_norm
        FROM region
    """,
    tags=("probe", "diagnostics", "types", "sentinel"),
)
def probe_type_double_negzero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTINEL for IEEE ``-0.0`` handling. Context: the engines'
    ``round()`` genuinely disagrees near zero (DuckDB ``round(-4e-7,6)``
    → ``-0.0``, Spark → ``+0.0`` — measured locally), which is why the
    repo normalizes every rounded double with ``+ 0.0``; that
    expression can't itself be oracled (no environment agrees). This
    probe instead emits a symmetric ``-0.0`` on BOTH sides —
    ``str``/``repr`` shows ``-0.0``, numeric compare can't see it — so
    its driver hash bit reads out whether the driver's canonicalizer
    treats the two engines' ``-0.0`` identically; ``neg_zero_norm``
    carries the ``+0.0`` antidote as the control column."""
    r = scan_table(spark, sf_dir, "region")
    nz = (-F.lit(0.0)) * (F.col("r_regionkey") + 1.0)
    return r.select(
        "r_regionkey",
        nz.alias("neg_zero"),
        (nz + 0.0).alias("neg_zero_norm"),
    )


@register(
    "probe_type_null_mixed",
    oracle="""
        SELECT r_regionkey,
               CASE WHEN r_regionkey % 2 = 0 THEN r_regionkey END AS int_or_null,
               CASE WHEN r_regionkey % 2 = 1 THEN r_regionkey / 4.0 END
                   AS dbl_or_null,
               CASE WHEN r_regionkey = 2 THEN r_name END AS str_or_null
        FROM region
    """,
    tags=("probe", "diagnostics", "types"),
)
def probe_type_null_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control: NULLs inside int/double/string columns — exercises the
    driver canonicalizer's NULL rendering (None vs NaN vs 'None') in
    every class at once."""
    r = scan_table(spark, sf_dir, "region")
    k = F.col("r_regionkey")
    return r.select(
        "r_regionkey",
        F.when(k % 2 == 0, k).alias("int_or_null"),
        F.when(k % 2 == 1, k / 4.0).alias("dbl_or_null"),
        F.when(k == 2, F.col("r_name")).alias("str_or_null"),
    )


@register(
    "probe_type_string_date_bool",
    oracle="""
        SELECT r_regionkey,
               r_name || ' côté-θ' AS uni,
               ' pad  ' || r_name AS ws,
               DATE '1994-01-01' + CAST(r_regionkey * 40 AS INTEGER) AS d,
               r_regionkey % 2 = 0 AS flag
        FROM region
    """,
    tags=("probe", "diagnostics", "types"),
)
def probe_type_string_date_bool(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Control: unicode strings, leading/trailing whitespace, DATE,
    and BOOLEAN — the remaining allowlist classes in one probe."""
    r = scan_table(spark, sf_dir, "region")
    k = F.col("r_regionkey")
    return r.select(
        "r_regionkey",
        F.concat(F.col("r_name"), F.lit(" côté-θ")).alias("uni"),
        F.concat(F.lit(" pad  "), F.col("r_name")).alias("ws"),
        F.date_add(F.lit("1994-01-01").cast("date"),
                   (k * 40).cast("int")).alias("d"),
        (k % 2 == 0).alias("flag"),
    )


# --- oracle-dialect probes -------------------------------------------------
# The oracle SQL leans on a handful of DuckDB function idioms (md5-hex
# →BIGINT, printf('%b'), list_sort/array_to_string, epoch extraction,
# date arithmetic). If the driver's DuckDB changed any of their
# SEMANTICS (not just result types), the corresponding probe's hash bit
# flips — localizing the divergence to the function family without
# another forensic round. Each probe re-states the exact idiom the
# production oracles use.


@register(
    "probe_fn_hash_digits",
    oracle="""
        SELECT r_regionkey,
               md5(r_name || ':' || CAST(r_regionkey AS VARCHAR)) AS h_md5,
               CAST(CAST(('0x' || substr(md5(r_name), 1, 15)) AS UBIGINT)
                   AS BIGINT) AS h_int60,
               printf('%b', r_regionkey * 37 + 5) AS bin_str,
               length(printf('%b', r_regionkey * 37 + 5)) - 1 AS log2_floor
        FROM region
    """,
    tags=("probe", "diagnostics", "dialect"),
)
def probe_fn_hash_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect probe: the md5-as-integer and binary-format idioms used
    by validate_table_fingerprint, sample_split_3way, skew_key_histogram
    and every md5-derived synthetic coordinate — restated on 5 rows."""
    r = scan_table(spark, sf_dir, "region")
    k = F.col("r_regionkey")
    n = (k.cast("long") * 37 + 5)
    return r.select(
        "r_regionkey",
        F.md5(F.concat(F.col("r_name"), F.lit(":"), k.cast("string")))
        .alias("h_md5"),
        F.conv(F.substring(F.md5(F.col("r_name")), 1, 15), 16, 10)
        .cast("long").alias("h_int60"),
        F.conv(n.cast("string"), 10, 2).alias("bin_str"),
        (F.length(F.conv(n.cast("string"), 10, 2)) - 1).cast("long")
        .alias("log2_floor"),
    )


@register(
    "probe_fn_split_sort",
    oracle="""
        SELECT r_regionkey,
               array_to_string(list_sort(string_split(
                   r_name || ' alpha Beta 2nd _x', ' ')), '|') AS sorted_toks,
               len(string_split(r_name || ' a  b', ' ')) AS n_split
        FROM region
    """,
    tags=("probe", "diagnostics", "dialect"),
)
def probe_fn_split_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect probe: split → sort → join, the tokenize/canonicalize
    idiom of the text family — pins split-on-space semantics (empty
    fields from double spaces included on both engines) and the sort
    collation (binary codepoint: digits < uppercase < '_' < lowercase)."""
    r = scan_table(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        F.array_join(F.array_sort(F.split(
            F.concat(F.col("r_name"), F.lit(" alpha Beta 2nd _x")),
            " ")), "|").alias("sorted_toks"),
        F.size(F.split(F.concat(F.col("r_name"), F.lit(" a  b")), " "))
        .cast("long").alias("n_split"),
    )


@register(
    "probe_fn_temporal_arith",
    oracle="""
        SELECT r_regionkey,
               CAST(date_diff('day', DATE '1970-01-01',
                    DATE '1994-01-01' + CAST(r_regionkey * 40 AS INTEGER))
                    AS BIGINT) * 86400 + 45296 AS epoch_s,
               date_diff('day', DATE '1994-01-01',
                         DATE '1994-01-01'
                         + CAST(r_regionkey * 13 AS INTEGER)) AS day_diff,
               CAST(extract(year FROM DATE '1994-01-01'
                   + CAST(r_regionkey * 100 AS INTEGER)) AS BIGINT) AS yr
        FROM region
    """,
    tags=("probe", "diagnostics", "dialect"),
)
def probe_fn_temporal_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect probe: date +days arithmetic, date_diff argument
    order/sign, year extraction, and the epoch-seconds convention
    derived from epoch-DAY arithmetic (days-since-1970 × 86400 + a
    fixed intra-day offset).

    Deliberately TZ-FREE by construction — DATE literals and
    unix_date/date_diff('day') never consult the session timezone. An
    earlier revision parsed a timestamp STRING literal, which Spark
    interprets in session tz; in the driver's unconfigured session the
    probes run BEFORE any load_table call pins UTC, so a non-UTC
    driver host produced a spurious epoch offset. The fix after THAT
    (pinning the session tz inside the probe) masked the
    default-session gate for every query after it — a probe must not
    mutate the session it measures. Production timestamp semantics
    (string parses, sub-day truncation) are exercised by the real
    temporal queries, which all run behind load_table's per-load UTC
    pin; what this probe checks is the tz-free dialect layer those
    queries' ORACLES lean on."""
    r = scan_table(spark, sf_dir, "region")
    k = F.col("r_regionkey")
    d0 = F.lit("1994-01-01").cast("date")
    return r.select(
        "r_regionkey",
        (F.unix_date(F.date_add(d0, (k * 40).cast("int"))).cast("long")
         * 86400 + 45296).alias("epoch_s"),
        F.datediff(F.date_add(d0, (k * 13).cast("int")), d0).cast("long")
        .alias("day_diff"),
        F.year(F.date_add(d0, (k * 100).cast("int"))).cast("long")
        .alias("yr"),
    )


@register(
    "probe_fn_list_agg_order",
    oracle="""
        WITH l AS (SELECT list(r_name ORDER BY r_regionkey DESC)
                       AS names FROM region)
        SELECT u.i AS pos, names[u.i] AS name
        FROM l, LATERAL (SELECT unnest(range(1, len(names) + 1)) AS i)
                    u(i)
    """,
    tags=("probe", "diagnostics", "dialect"),
)
def probe_fn_list_agg_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect probe (VERDICT r5 item 7): ORDERED list aggregation and
    positional unnest — the idiom the production oracles lean on in
    ``list(tid ORDER BY pos)`` (text_token_ids) and the 1-based
    ``names[i]`` element access (token/shingle builders). A driver-side
    DuckDB upgrade that changed list() ordering guarantees or element
    indexing would flip this probe before it silently corrupted the
    production oracles. Spark side: order is made explicit via
    sort_array over (key, value) structs + reverse — collect_list's
    raw order is NOT relied on."""
    r = scan_table(spark, sf_dir, "region")
    asc = F.array_sort(F.collect_list(
        F.struct(F.col("r_regionkey").alias("k"),
                 F.col("r_name").alias("v"))))
    names = F.reverse(F.transform(asc, lambda s: s["v"]))
    return (r.agg(names.alias("names"))
            .select(F.posexplode("names").alias("pos0", "name"))
            .select((F.col("pos0") + 1).cast("long").alias("pos"), "name"))


#: shared fixture for the collation probe — mixed digits/upper/._/lower
#: so every boundary of the binary (codepoint) order is exercised
_COLLATION_VALUES = ("apple", "Apple", "APPLE", "banana", "_underscore",
                     "0zero", "~tilde", "zebra", "Zebra", "apple pie")


@register(
    "probe_fn_collation_minmax",
    oracle=f"""
        WITH s AS (SELECT unnest([{", ".join(repr(v) for v in _COLLATION_VALUES)}]) AS v)
        SELECT min(v) AS min_v, max(v) AS max_v,
               array_to_string(list_sort(list(v)), '|') AS sorted_all,
               CAST(sum(CASE WHEN v < 'a' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_below_lower_a
        FROM s
    """,
    tags=("probe", "diagnostics", "dialect"),
)
def probe_fn_collation_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect probe (VERDICT r5 item 7): string collation under
    min/max, '<' comparison, and whole-set sort on a fixture spanning
    digit/upper/underscore/lower/tilde/space boundaries. Both engines
    must order by binary UTF-8 codepoint (digits < upper < '_' <
    lower < '~'; space sorts before every printable letter, so
    'apple pie' < 'apple'+anything). A driver-side DuckDB upgrade that
    switched the default collation (e.g. to ICU) would flip min/max
    here before it silently re-ordered any production string sort."""
    vals = spark.createDataFrame([(v,) for v in _COLLATION_VALUES],
                                 "v string")
    return vals.agg(
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.array_join(F.array_sort(F.collect_list("v")), "|")
        .alias("sorted_all"),
        F.sum(F.when(F.col("v") < "a", 1).otherwise(0)).cast("bigint")
        .alias("n_below_lower_a"),
    )
