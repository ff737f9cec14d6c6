"""Multi-batch landing (TPC-DI Batch2/Batch3 — the incremental loads
the reference defers, reference README.md:53-55): fold a delta drop
into cumulative sources, derive per-SCD2-model delta refs, land the
batch through row-level ``merge_refresh`` (partition-pruned where the
model declares ``merge_partition``) + the CDC delete feed, then
rebuild exactly the stale downstream cone reading everything else
from the warehouse.

One implementation serves both surfaces: the CLI
(``python -m dbt_tpcdi_spark build --batches 1,2,3``) and the
``dag_batches_cli`` / ``dag_incremental_*`` driver gates.

Batch semantics (TPC-DI spec §4.5-ish, re-derived from the file
formats the reference ingests):

- history feeds (TradeHistory, FINWIRE drops, CustomerMgmt actions)
  are APPEND-ONLY: cumulative = union;
- ``Trade.txt`` delta rows are the UPDATED FINAL STATE of a trade —
  they REPLACE same-key earlier rows;
- ``TradeDeletes.txt`` is the CDC delete feed: the entire version
  history of those trade ids is purged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_tpcdi_spark.plans.registry import all_models
from dbt_tpcdi_spark.plans.runner import Runner, ancestors, topo_order

#: SCD2 models merged in topo order (companies before
#: securities/financials — their temporal joins read the refreshed
#: companies table).
SCD2_MERGE_ORDER = (
    "accounts", "customers", "companies", "securities", "financials",
    "trades_history",
)


def bronze(name: str, src_df: DataFrame) -> DataFrame:
    """Run a bronze builder over an in-memory source frame."""
    return all_models()[name].build(None, lambda _n: src_df)


def combine_batch(base: dict, delta: dict) -> dict:
    """Fold a delta drop into cumulative sources (ground truth):
    history feeds union; Trade.txt rows REPLACE same-key earlier rows
    (a delta trade row is the updated final state, not a new trade)."""
    full = dict(base)
    if "trade" in delta:
        full["trade"] = (
            base["trade"].join(
                delta["trade"].select("t_id"), "t_id", "left_anti")
            .unionByName(delta["trade"])
        )
    if "trade_history" in delta:
        full["trade_history"] = base["trade_history"].unionByName(
            delta["trade_history"])
    if "customer_mgmt" in delta:
        full["customer_mgmt"] = base["customer_mgmt"].unionByName(
            delta["customer_mgmt"])
    for s in ("cmp", "sec", "fin"):
        if s in delta:
            full[s] = base[s].unionByName(delta[s])
    return full


def batch_deltas(batch: dict, cumulative: dict) -> dict:
    """Per-model (delta_refs, replace) for one merge round — only for
    models whose feeds are present in the batch drop. ``cumulative``
    supplies the COMPLETE history of touched trades — replace mode
    rewrites every version of a touched key."""
    out: dict = {}
    if "customer_mgmt" in batch:
        out["accounts"] = (
            {"crm_customer_mgmt": batch["customer_mgmt"]}, False)
        out["customers"] = (
            {"crm_customer_mgmt": batch["customer_mgmt"]}, False)
    if "cmp" in batch:
        out["companies"] = ({"finwire_company": batch["cmp"]}, False)
    if "sec" in batch:
        out["securities"] = (
            {"finwire_security": bronze("finwire_security", batch["sec"])},
            False)
    if "fin" in batch:
        out["financials"] = (
            {"finwire_financial": bronze("finwire_financial", batch["fin"])},
            False)
    if "trade_history" in batch:
        touched = batch["trade_history"].select("th_t_id").distinct()
        out["trades_history"] = ({
            "brokerage_trade_history": cumulative["trade_history"].join(
                touched, "th_t_id", "left_semi"),
            "brokerage_trade": cumulative["trade"].join(
                touched.withColumnRenamed("th_t_id", "t_id"),
                "t_id", "left_semi"),
        }, True)
    return out


def stale_after_batch(batch: dict) -> tuple[list[str], list[str]]:
    """(merged, rebuilt): which SCD2 models this batch merges, and
    which downstream models are STALE — (transitively) reading a
    touched raw source or depending on a merged/stale model — and must
    rebuild. Everything else keeps its warehouse table untouched: the
    incremental economics (a trades+FINWIRE+CRM drop leaves dates,
    cash, HR, watches, prospects alone)."""
    models = all_models()
    touched = set(batch)
    merged = [n for n in SCD2_MERGE_ORDER if batch_deltas_covers(n, batch)]
    stale = set(merged)
    for name in topo_order(models):
        if name in stale:
            continue
        m = models[name]
        if set(m.sources) & touched or set(m.deps) & stale:
            stale.add(name)
    rebuilt = sorted(stale - set(merged))
    return merged, rebuilt


def batch_deltas_covers(name: str, batch: dict) -> bool:
    feeds = {
        "accounts": ("customer_mgmt",),
        "customers": ("customer_mgmt",),
        "companies": ("cmp",),
        "securities": ("sec",),
        "financials": ("fin",),
        "trades_history": ("trade_history",),
    }[name]
    return all(f in batch for f in feeds)


def land_batch(
    runner: Runner, batch: dict, cumulative: dict,
    parallelism: int = 8,
) -> tuple[list[str], list[str]]:
    """Land ONE delta drop on an already-built warehouse:

    1. row-level ``merge_refresh`` of each covered SCD2 model in topo
       order (partition-pruned where declared), with the batch's CDC
       delete feed purging trades in the SAME refresh;
    2. rebuild of exactly the stale downstream cone over the
       cumulative sources, reading merged/fresh upstreams from the
       warehouse (``prebuilt``) instead of recomputing them;
    3. in versioned mode, ``Runner.run`` finishes the batch with one
       warehouse manifest commit — also when nothing downstream is
       stale — so every batch is a consistent cross-table snapshot
       (``read_warehouse`` pins to it).

    Returns (merged models, rebuilt models)."""
    deltas = batch_deltas(batch, cumulative)
    merged, rebuilt = stale_after_batch(batch)
    for name in merged:
        delta_refs, replace = deltas[name]
        dk = None
        if name == "trades_history" and "trade_deletes" in batch:
            dk = batch["trade_deletes"].select(
                F.col("td_t_id").alias("trade_id"))
        runner.merge_refresh(name, delta_refs, replace=replace,
                             delete_keys=dk)
    runner.sources = cumulative
    models = all_models()
    prebuilt = {
        n: runner.read_model(n)
        for n in ancestors(models, rebuilt)
        if n not in rebuilt
    }
    runner.run(targets=rebuilt, parallelism=parallelism,
               prebuilt=prebuilt)
    return merged, rebuilt
