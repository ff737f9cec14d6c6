"""Multi-batch landing (TPC-DI Batch2/Batch3 — the incremental loads
the reference defers, reference README.md:53-55): fold a delta drop
into cumulative sources, derive per-SCD2-model delta refs, land the
batch through row-level ``merge_refresh`` (partition-pruned where the
model declares ``merge_partition``) + the CDC delete feed, then
rebuild exactly the stale downstream cone reading everything else
from the warehouse.

One implementation serves every surface: the CLI
(``python -m dbt_tpcdi_spark build --batches 1,2,3``), the fingerprint
refresh (``rebuild_stale``) and the ``dag_batches_cli`` /
``dag_incremental_*`` / ``dag_batch_audit`` / ``streaming_dag_refresh``
driver gates. Deltas land on versioned warehouses only
(``Runner.merge_refresh``).

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


def bronze(name: str, src_df: DataFrame) -> DataFrame:
    """Run a bronze builder over an in-memory source frame."""
    return all_models()[name].build(None, lambda _n: src_df)


def _trade_refs(batch: dict, cumulative: dict) -> dict:
    """trades_history's delta: the COMPLETE cumulative history and
    final Trade row of every trade the batch touches — replace mode
    rewrites every version of a touched key. A delete-only drop has
    no delta (the purge alone)."""
    if "trade_history" not in batch:
        return {}
    touched = batch["trade_history"].select("th_t_id").distinct()
    return {
        "brokerage_trade_history": cumulative["trade_history"].join(
            touched, "th_t_id", "left_semi"),
        "brokerage_trade": cumulative["trade"].join(
            touched.withColumnRenamed("th_t_id", "t_id"),
            "t_id", "left_semi"),
    }


#: SCD2 model → (batch feeds, any of which merges it; delta refs from
#: (batch, cumulative); replace mode), in merge order: companies
#: before securities/financials — their temporal joins read the
#: refreshed companies table.
_MERGES = {
    "accounts": (("customer_mgmt",), lambda b, _c: {
        "crm_customer_mgmt": b["customer_mgmt"]}, False),
    "customers": (("customer_mgmt",), lambda b, _c: {
        "crm_customer_mgmt": b["customer_mgmt"]}, False),
    "companies": (("cmp",), lambda b, _c: {
        "finwire_company": b["cmp"]}, False),
    "securities": (("sec",), lambda b, _c: {
        "finwire_security": bronze("finwire_security", b["sec"])}, False),
    "financials": (("fin",), lambda b, _c: {
        "finwire_financial": bronze("finwire_financial", b["fin"])}, False),
    "trades_history": (("trade_history", "trade_deletes"), _trade_refs,
                       True),
}

#: SCD2 models merged in topo order
SCD2_MERGE_ORDER = tuple(_MERGES)


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
    """Per-model (delta_refs, replace) for one merge round, in merge
    order — only for models one of whose feeds is in the batch drop.
    ``cumulative`` supplies the COMPLETE history of touched trades."""
    return {
        name: (refs(batch, cumulative), replace)
        for name, (feeds, refs, replace) in _MERGES.items()
        if any(f in batch for f in feeds)
    }


def stale_after_batch(batch: dict) -> tuple[list[str], list[str]]:
    """(merged, rebuilt): which SCD2 models this batch merges, and
    which downstream models are STALE — (transitively) reading a
    touched raw source or depending on a merged/stale model — and must
    rebuild. Everything else keeps its warehouse table untouched: the
    incremental economics (a trades+FINWIRE+CRM drop leaves dates,
    cash, HR, watches, prospects alone)."""
    models = all_models()
    touched = set(batch)
    merged = [n for n, spec in _MERGES.items() if touched & set(spec[0])]
    stale = set(merged)
    for name in topo_order(models):
        if name in stale:
            continue
        m = models[name]
        if set(m.sources) & touched or set(m.deps) & stale:
            stale.add(name)
    rebuilt = sorted(stale - set(merged))
    return merged, rebuilt


def merge_batch(runner: Runner, batch: dict, cumulative: dict) -> list[str]:
    """Step 1 of a landing: row-level ``merge_refresh`` of each SCD2
    model the batch covers, in merge order (partition-pruned where
    declared), with the batch's CDC delete feed purging trades in the
    SAME trades_history refresh. Returns the merged models."""
    deltas = batch_deltas(batch, cumulative)
    for name, (delta_refs, replace) in deltas.items():
        dk = None
        if name == "trades_history" and "trade_deletes" in batch:
            dk = batch["trade_deletes"].select(
                F.col("td_t_id").alias("trade_id"))
        runner.merge_refresh(name, delta_refs, replace=replace,
                             delete_keys=dk)
    return list(deltas)


def rebuild_stale(
    runner: Runner, stale: list[str], parallelism: int = 8,
    op: str = "build",
) -> dict[str, DataFrame]:
    """Step 2: rebuild exactly the ``stale`` models over
    ``runner.sources``, reading every other ancestor from the warehouse
    (``prebuilt``) instead of recomputing it. In versioned mode
    ``Runner.run`` ends with one warehouse manifest commit — also when
    nothing is stale."""
    prebuilt = {
        n: runner.read_model(n)
        for n in ancestors(all_models(), stale) - set(stale)
    }
    return runner.run(targets=stale, parallelism=parallelism,
                      prebuilt=prebuilt, op=op)


def land_batch(
    runner: Runner, batch: dict, cumulative: dict,
    parallelism: int = 8,
) -> tuple[list[str], list[str]]:
    """Land ONE delta drop on an already-built versioned warehouse:
    ``merge_batch``, then ``rebuild_stale`` of the downstream cone
    over the cumulative sources, so every batch ends in one consistent
    cross-table snapshot (``read_warehouse`` pins to it).

    Returns (merged models, rebuilt models)."""
    merged = merge_batch(runner, batch, cumulative)
    rebuilt = stale_after_batch(batch)[1]
    runner.sources = cumulative
    rebuild_stale(runner, rebuilt, parallelism)
    return merged, rebuilt
