"""Scalar expression helpers mirroring the reference's Snowflake idioms.

Spark-first notes (SURVEY.md §2.8):
- Snowflake ``decode(x, k1, v1, k2, v2, ..., default)`` → chained
  ``F.when``; Spark's own ``F.decode`` is *charset* decoding, a classic
  false friend.
- Snowflake datetime format tokens differ from Java patterns
  (``'yyyymmdd-hhmiss'`` vs ``'yyyyMMdd-HHmmss'``); the sources and
  models spell the Java pattern of each format the reference uses
  (``tpcdi.py:293,453``, ``finwire_financial.sql:12-13``) directly —
  'mi' (minute) vs 'mm' (month in Snowflake, minute in Java) is the
  classic trap (SURVEY.md §7.5 hazard 2).
- ``get_phone_number`` (reference ``tpcdi.py:174-186``) assembles
  country/area/local/ext with separators dropped for blank parts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash_sample(col: Column, fraction: float, salt: str = "") -> Column:
    """Deterministic, engine-portable sampling predicate: keep a row iff
    md5(salt||key) mod 10000 < fraction·10000.

    Reproducible sampling is a first-class training-data-pipeline need
    (``df.sample()`` is seed-AND-partitioning dependent — rerunning on
    different cluster sizes changes the sample; this doesn't). Pair
    with hash_sample_sql for oracles.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8),
               16, 10).cast("long") % 10000
    )
    return bucket < int(fraction * 10000)


def hash_sample_sql(col: str, fraction: float, salt: str = "") -> str:
    powers = [16 ** (8 - i) for i in range(1, 9)]
    h = (
        f"(list_sum(list_transform(range(1, 9), i -> "
        f"cast(strpos('0123456789abcdef', substr(md5('{salt}' || "
        f"cast({col} AS varchar)), i, 1)) - 1 AS bigint) "
        f"* cast(({powers})[i] AS bigint)))::bigint % 10000)"
    )
    return f"{h} < {int(fraction * 10000)}"


def md5_mod(col: Column, m: int, salt: str = "") -> Column:
    """Deterministic bucket in [0, m): first 8 md5 hex digits of
    salt‖key, mod m — the routing primitive behind hash_sample,
    sharding, and split assignment. Engine-portable (md5 + integer
    mod only); pair with md5_mod_sql."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8),
            16, 10,
        ).cast("long")
        % m
    )


def md5_mod_sql(col: str, m: int, salt: str = "") -> str:
    powers = [16 ** (8 - i) for i in range(1, 9)]
    return (
        f"(list_sum(list_transform(range(1, 9), i -> "
        f"cast(strpos('0123456789abcdef', substr(md5('{salt}' || "
        f"cast({col} AS varchar)), i, 1)) - 1 AS bigint) "
        f"* cast(({powers})[i] AS bigint)))::bigint % {m})"
    )


#: weighted-sample hash resolution: 6 md5 hex digits → [0, 2^24).
#: Kept at 24 bits (not 32) so the integer predicate h·W < m·w·2^24
#: stays inside int64 for corpus weights W up to ~2^39 ≈ 5·10^11 with
#: m·w ≤ 2^?? headroom — at larger W, shard the sample by source and
#: merge (inclusion tests are independent per row).
WSAMPLE_BITS = 24


def weighted_keep(key: Column, weight: Column, total: Column,
                  target: int, salt: str = "") -> Column:
    """Weighted Bernoulli sampling predicate: keep a row with
    probability min(1, target·weight/total) — inclusion ∝ weight,
    expected sample size ≤ target — decided by a deterministic,
    partitioning-independent integer comparison::

        h24(salt‖key) · total  <  target · weight · 2^24

    All int64 arithmetic (no float probability), so the kept set is
    identical in any engine and across reruns/cluster sizes — the
    property df.sample() lacks and a reproducible training-data
    pipeline needs. Pair with weighted_keep_sql."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1,
                    WSAMPLE_BITS // 4),
        16, 10,
    ).cast("long")
    return h * total.cast("long") < (
        F.lit(target) * weight.cast("long") * F.lit(1 << WSAMPLE_BITS)
    )


def weighted_keep_sql(key: str, weight: str, total: str, target: int,
                      salt: str = "") -> str:
    nd = WSAMPLE_BITS // 4
    powers = [16 ** (nd - i) for i in range(1, nd + 1)]
    h = (
        f"(list_sum(list_transform(range(1, {nd + 1}), i -> "
        f"cast(strpos('0123456789abcdef', substr(md5('{salt}' || "
        f"cast({key} AS varchar)), i, 1)) - 1 AS bigint) "
        f"* cast(({powers})[i] AS bigint)))::bigint)"
    )
    return (
        f"{h} * cast({total} AS bigint) < "
        f"{target} * cast({weight} AS bigint) * {1 << WSAMPLE_BITS}"
    )


def round4(c: Column) -> Column:
    """Bit-deterministic 4-decimal rounding for doubles compared across
    engines: Spark's round() goes through BigDecimal's shortest-decimal
    representation while DuckDB rounds the raw binary double — at a
    .00005 boundary they disagree. floor(x·10⁴ + 0.5)/10⁴ is identical
    IEEE arithmetic everywhere. Pair with round4_sql."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


def round4_sql(expr: str) -> str:
    return f"(floor(({expr}) * 10000 + 0.5) / 10000)"


def decode(col: Column, mapping: dict, default=None) -> Column:
    """Snowflake DECODE as chained when/otherwise.

    Reference usage: ``decode(action_type, 'NEW','Active','ADDACCT','Active',...)``
    at ``silver/accounts.sql:3-7`` and ``silver/customers.sql:3-8``.
    """
    expr: Column | None = None
    for key, value in mapping.items():
        cond = col.isNull() if key is None else (col == F.lit(key))
        val = F.lit(value) if not isinstance(value, Column) else value
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    assert expr is not None, "decode() needs at least one mapping"
    if default is not None:
        default = F.lit(default) if not isinstance(default, Column) else default
        expr = expr.otherwise(default)
    return expr


def phone_number(
    ctry: Column, area: Column, local: Column, ext: Column, separator: str = "-"
) -> Column:
    """Assemble a phone number exactly as the reference does
    (``tpcdi.py:174-186``): ``concat(ctry, sep?, area, sep?, local,
    ' ext: '?, ext)`` where each separator is dropped when the
    *preceding* part is the empty string.

    NULL semantics are load-bearing and identical in Snowflake and
    Spark: ``concat`` NULL-propagates, so a *missing* (NULL) part nulls
    the entire phone, while an *empty-string* part merely drops its
    separator. We replicate, not "fix", this.
    """
    sep = F.lit(separator)
    empty = F.lit("")
    return F.concat(
        ctry,
        F.when(ctry == "", empty).otherwise(sep),
        area,
        F.when(area == "", empty).otherwise(sep),
        local,
        F.when(ext == "", empty).otherwise(F.lit(" ext: ")),
        ext,
    )


def stratified_sample(
    col: Column,
    stratum: Column,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "",
) -> Column:
    """Deterministic per-stratum sampling predicate: each stratum keeps
    its own hash fraction (rebalancing skewed corpora — e.g. downsample
    the dominant language, keep all of a rare one). Same
    partitioning-invariant md5 bucket as ``hash_sample``; the stratum
    value is salted into the hash so the same key draws independently
    across strata."""
    out = hash_sample(col, default_fraction, salt=f"{salt}|__default")
    for value, frac in sorted(fractions.items()):
        out = F.when(
            stratum.cast("string") == str(value),
            hash_sample(col, frac, salt=f"{salt}|{value}"),
        ).otherwise(out)
    return out


def stratified_sample_sql(
    col: str,
    stratum: str,
    fractions: dict,
    default_fraction: float = 0.0,
    salt: str = "",
) -> str:
    out = hash_sample_sql(col, default_fraction, salt=f"{salt}|__default")
    for value, frac in sorted(fractions.items()):
        keep = hash_sample_sql(col, frac, salt=f"{salt}|{value}")
        out = (
            f"CASE WHEN cast({stratum} AS varchar) = '{value}' "
            f"THEN {keep} ELSE {out} END"
        )
    return out
