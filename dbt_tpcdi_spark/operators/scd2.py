"""SCD Type-2 versioning — the reference's core temporal idiom.

Six silver models version entities identically (SURVEY.md §1.3; e.g.
reference ``models/silver/accounts.sql:35-57``):

- ``end_timestamp`` = next version's timestamp − 1 ms, with an
  open-ended ``9999-12-31 23:59:59.999`` sentinel for the latest
  version. The reference writes this as ``lag(ts) over (... order by
  ts DESC)``; we use the equivalent-but-readable ``lead`` over ASC
  (hazard 3 in SURVEY.md §7.5 — unit-tested both ways).
- ``is_current`` = ``row_number() over (... order by ts desc) = 1``.

Scale note: one window over ``partition by key order by ts`` is a
single shuffle on the entity key; both derived columns reuse the same
sort, so Catalyst plans exactly one exchange + one sort. Entity keys
(customer/account/company/security/trade) are high-cardinality and
unskewed in TPC-DI, so this scales linearly to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Open-ended validity sentinel, as in reference ``silver/accounts.sql:40``.
SCD2_SENTINEL = "9999-12-31 23:59:59.999"


def with_scd2(
    df: DataFrame,
    key: str | list[str],
    ts: str = "effective_timestamp",
    end_col: str = "end_timestamp",
    current_col: str = "is_current",
) -> DataFrame:
    """Append ``end_timestamp`` + ``is_current`` SCD2 columns.

    ``ts`` must already be the version's effective timestamp; ties on
    (key, ts) would be nondeterministic in the reference too (it orders
    only by ts) — callers should dedupe first.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w_asc = Window.partitionBy(*keys).orderBy(F.col(ts).asc())
    w_desc = Window.partitionBy(*keys).orderBy(F.col(ts).desc())
    end_ts: Column = F.coalesce(
        F.lead(F.col(ts)).over(w_asc) - F.expr("INTERVAL 1 MILLISECOND"),
        F.lit(SCD2_SENTINEL).cast("timestamp"),
    )
    return df.withColumn(end_col, end_ts).withColumn(
        current_col, F.row_number().over(w_desc) == 1
    )


def merge_scd2(
    existing: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    ts: str = "effective_timestamp",
    end_col: str = "end_timestamp",
    current_col: str = "is_current",
    replace: bool = False,
) -> DataFrame:
    """Incremental SCD2 upsert — the batch emulation of MERGE the
    dynamic-table v2 needs (SURVEY.md §7.4): a late/new version must
    rewrite its neighbors' end_timestamp/is_current, but only rows of
    *touched* keys should move.

    Plan: semi-join splits existing into touched/untouched partitions;
    only the touched slice (plus the updates) re-runs the SCD2 window;
    untouched rows pass through unshuffled. Cost is O(rows of touched
    keys), not O(table) — the property that matters when one Batch2
    file lands on a 100 TB dimension.

    ``updates`` carries the same columns as the original SCD2 input
    (no end/current columns — they are recomputed).

    ``replace=False`` (append): updates are NEW versions; existing
    versions of touched keys are kept and re-windowed alongside them.
    ``replace=True`` (full-version replacement): updates carry the
    COMPLETE version history of every touched key; existing versions
    are discarded. Needed when a delta rewrites non-versioned
    attributes on all versions — e.g. a TPC-DI Batch2 Trade.txt row
    updates the trade's final status/price, which every
    trades_history version carries.
    """
    keys = [key] if isinstance(key, str) else list(key)
    touched_keys = updates.select(*keys).distinct()
    untouched = existing.join(touched_keys, keys, "left_anti")
    if replace:
        to_window = updates
    else:
        touched = existing.join(touched_keys, keys, "left_semi").drop(
            end_col, current_col
        )
        to_window = touched.unionByName(updates)
    recomputed = with_scd2(
        to_window, key=keys, ts=ts, end_col=end_col, current_col=current_col,
    )
    # the key-column equi-joins above move the keys to the front;
    # restore the existing table's column order so a merged table stays
    # positionally identical to a fresh build
    return untouched.unionByName(recomputed).select(existing.columns)
