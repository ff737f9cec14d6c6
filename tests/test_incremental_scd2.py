"""Batch2-style row-level incremental SCD2 refresh: building a versioned
warehouse with only the first batch of trade history, then
merge-refreshing the second batch, must equal a full rebuild over
everything — including status rows that rewrite existing versions'
end_timestamp/is_current."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_tpcdi_spark.plans.runner import Runner
from dbt_tpcdi_spark.plans.sources import load_dag_sources
from dbt_tpcdi_spark.tpcdi.fixtures import generate


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merge_refresh_trades_history(spark, tmp_path):
    root = generate(tmp_path / "b2")
    sources = load_dag_sources(spark, str(root / "raw"))

    th_full = sources["trade_history"]
    # batch split that forces neighbor rewrites: the CMPT rows land in
    # batch 2, so existing trades' latest versions get superseded
    batch1 = th_full.filter(F.col("th_st_id") != "CMPT")
    batch2 = th_full.filter(F.col("th_st_id") == "CMPT")
    assert batch1.count() and batch2.count()

    # warehouse A: full history (ground truth)
    full_wh = str(root / "wh_full")
    Runner(spark, sources, warehouse_dir=full_wh).run(["trades_history"])
    expected = spark.read.parquet(f"{full_wh}/trades_history")

    # warehouse B: batch1 build, then merge-refresh batch2
    inc_wh = str(root / "wh_inc")
    b1_sources = dict(sources)
    b1_sources["trade_history"] = batch1
    runner = Runner(spark, b1_sources, warehouse_dir=inc_wh,
                    materialize="versioned")
    runner.run(["trades_history"])

    n_before = runner.read_model("trades_history").count()
    merged = runner.merge_refresh(
        "trades_history", {"brokerage_trade_history": batch2}
    )
    assert merged.count() > n_before
    assert _rows(merged) == _rows(expected)


def test_parallel_run_equals_sequential(spark, tmp_path):
    import time

    root = generate(tmp_path / "par")
    sources = load_dag_sources(spark, str(root / "raw"))
    t0 = time.perf_counter()
    Runner(spark, sources, warehouse_dir=str(root / "wh_seq")).run()
    t_seq = time.perf_counter() - t0
    t0 = time.perf_counter()
    Runner(spark, sources, warehouse_dir=str(root / "wh_par")).run(
        parallelism=8
    )
    t_par = time.perf_counter() - t0
    for table in ("fact_trade", "dim_customer", "fact_market_history"):
        seq = sorted(map(tuple, spark.read.parquet(
            str(root / "wh_seq" / table)).collect()))
        par = sorted(map(tuple, spark.read.parquet(
            str(root / "wh_par" / table)).collect()))
        assert seq == par, table
    print(f"seq={t_seq:.1f}s par={t_par:.1f}s")


def test_merge_refresh_replace_rewrites_attributes(spark, tmp_path):
    """Replace mode: a Batch2 Trade.txt row updates the trade's final
    status/price, which every trades_history version carries — append
    merge would keep stale attributes on old versions, replace merge
    must equal the rebuild exactly (this is what dag_incremental_
    equivalence drives across all six SCD2 models)."""
    from dbt_tpcdi_spark.tpcdi.fixtures import TRADE2

    root = generate(tmp_path / "b2r")
    b1 = load_dag_sources(spark, str(root / "raw"))
    b2 = load_dag_sources(spark, str(root / "raw_batch2"))
    full_trade = (
        b1["trade"].join(b2["trade"].select("t_id"), "t_id", "left_anti")
        .unionByName(b2["trade"])
    )
    full_th = b1["trade_history"].unionByName(b2["trade_history"])

    full_wh = str(root / "wh_full")
    full_sources = dict(b1, trade=full_trade, trade_history=full_th)
    Runner(spark, full_sources, warehouse_dir=full_wh).run(["trades_history"])
    expected = spark.read.parquet(f"{full_wh}/trades_history")

    inc_wh = str(root / "wh_inc")
    runner = Runner(spark, b1, warehouse_dir=inc_wh, materialize="versioned")
    runner.run(["trades_history"])
    touched = b2["trade_history"].select("th_t_id").distinct()
    merged = runner.merge_refresh(
        "trades_history",
        {
            "brokerage_trade_history": full_th.join(
                touched, "th_t_id", "left_semi"),
            "brokerage_trade": full_trade.join(
                touched.withColumnRenamed("th_t_id", "t_id"),
                "t_id", "left_semi"),
        },
        replace=True,
    )
    assert merged.columns == expected.columns  # merge preserves order
    assert _rows(merged) == _rows(expected)
    # the updated trade's OLD version now carries the new final status
    updated_id = TRADE2[0][0]
    sbmt = merged.filter(
        (F.col("trade_id") == updated_id) & (F.col("update_status") == "Submitted")
    ).collect()
    assert sbmt and all(r.trade_status == "Completed" for r in sbmt)


def test_merge_refresh_partitioned_equals_rebuild(spark, tmp_path):
    """VERDICT r10 item 1: in versioned mode trades_history lives
    under an INTERNAL id-block partition manifest, and merge_refresh
    routes through partitioned_upsert — both replace modes must still
    equal the plain full rebuild row-for-row, the storage column must
    never surface, and the merge commit must be a partitioned_upsert
    entry (the pruned path, not a full copy-on-write)."""
    from dbt_tpcdi_spark.plans.registry import all_models

    assert all_models()["trades_history"].merge_partition is not None

    root = generate(tmp_path / "vp")
    sources = load_dag_sources(spark, str(root / "raw"))
    full_wh = str(root / "wh_full")
    Runner(spark, sources, warehouse_dir=full_wh).run(["trades_history"])
    expected = spark.read.parquet(f"{full_wh}/trades_history")

    th_full = sources["trade_history"]
    batch1 = th_full.filter(F.col("th_st_id") != "CMPT")
    batch2 = th_full.filter(F.col("th_st_id") == "CMPT")
    b1_sources = dict(sources, trade_history=batch1)
    runner = Runner(spark, b1_sources, warehouse_dir=str(root / "wh_v"),
                    materialize="versioned")
    runner.run(["trades_history"])
    vt = runner.table("trades_history")
    e0 = vt._entry(vt.latest_version())
    assert e0.get("part_internal") is True
    assert e0["part_col"] == "mp_id_block"
    assert "mp_id_block" not in vt.read().columns

    # replace=False: existing versions of touched keys re-window
    merged = runner.merge_refresh(
        "trades_history", {"brokerage_trade_history": batch2})
    assert "mp_id_block" not in merged.columns
    assert merged.columns == expected.columns
    assert _rows(merged) == _rows(expected)
    e1 = vt._entry(vt.latest_version())
    assert e1["op"] == "partitioned_upsert"

    # replace=True: Batch2 full-version replacement (fixture deltas)
    b2 = load_dag_sources(spark, str(root / "raw_batch2"))
    full_trade = (
        sources["trade"]
        .join(b2["trade"].select("t_id"), "t_id", "left_anti")
        .unionByName(b2["trade"])
    )
    cum_th = th_full.unionByName(b2["trade_history"])
    cum_wh = str(root / "wh_cum")
    Runner(spark, dict(sources, trade=full_trade, trade_history=cum_th),
           warehouse_dir=cum_wh).run(["trades_history"])
    expected2 = spark.read.parquet(f"{cum_wh}/trades_history")
    touched = b2["trade_history"].select("th_t_id").distinct()
    merged2 = runner.merge_refresh(
        "trades_history",
        {
            "brokerage_trade_history": cum_th.join(
                touched, "th_t_id", "left_semi"),
            "brokerage_trade": full_trade.join(
                touched.withColumnRenamed("th_t_id", "t_id"),
                "t_id", "left_semi"),
        },
        replace=True,
    )
    assert _rows(merged2) == _rows(expected2)
    assert vt._entry(vt.latest_version())["op"] == "partitioned_upsert"


def test_merge_refresh_rejects_non_scd2(spark, tmp_path):
    """merge_refresh refuses a model without an SCD2 key, and any model
    of a parquet warehouse: deltas land on versioned tables only."""
    import pytest

    root = generate(tmp_path / "b2x")
    sources = load_dag_sources(spark, str(root / "raw"))
    versioned = Runner(spark, sources, warehouse_dir=str(root / "wh_v"),
                       materialize="versioned")
    versioned.run(["employees"])
    parquet = Runner(spark, sources, warehouse_dir=str(root / "wh"))
    for runner, name, match in (
        (versioned, "employees", "not an SCD2 model"),
        (parquet, "trades_history", "versioned"),
    ):
        with pytest.raises(ValueError, match=match):
            runner.merge_refresh(name, {})


def test_merge_refresh_delete_keys_purges_history(spark, tmp_path):
    """CDC DELETE feed: merge + delete in one refresh equals a full
    rebuild with the purged key's rows removed; a delete-only refresh
    (no delta) works; neither is a ValueError."""
    import pytest

    root = generate(tmp_path / "del")
    sources = load_dag_sources(spark, str(root / "raw"))

    full_wh = str(root / "wh_full")
    Runner(spark, sources, warehouse_dir=full_wh).run(["trades_history"])
    expected = spark.read.parquet(f"{full_wh}/trades_history")

    th_full = sources["trade_history"]
    batch1 = th_full.filter(F.col("th_st_id") != "CMPT")
    batch2 = th_full.filter(F.col("th_st_id") == "CMPT")
    inc_wh = str(root / "wh_inc")
    b1_sources = dict(sources)
    b1_sources["trade_history"] = batch1
    runner = Runner(spark, b1_sources, warehouse_dir=inc_wh,
                    materialize="versioned")
    runner.run(["trades_history"])

    dk = spark.createDataFrame([(9003,)], "trade_id bigint")
    touched_ids = sorted(
        r.th_t_id for r in batch2.select("th_t_id").distinct().collect()
    )
    runner.merge_refresh(
        "trades_history",
        {
            "brokerage_trade_history": th_full.filter(
                F.col("th_t_id").isin(touched_ids)),
            "brokerage_trade": sources["trade"].filter(
                F.col("t_id").isin(touched_ids)),
        },
        replace=True,
        delete_keys=dk,
    )
    merged = runner.read_model("trades_history")
    want = expected.filter(F.col("trade_id") != 9003)
    assert _rows(merged) == _rows(want)
    assert expected.filter(F.col("trade_id") == 9003).count() > 0

    # delete-only refresh: no delta_refs at all
    dk2 = spark.createDataFrame([(9001,)], "trade_id bigint")
    runner.merge_refresh("trades_history", {}, delete_keys=dk2)
    merged2 = runner.read_model("trades_history")
    assert _rows(merged2) == _rows(
        expected.filter(~F.col("trade_id").isin(9001, 9003)))

    with pytest.raises(ValueError):
        runner.merge_refresh("trades_history", {})


def test_versioned_merge_refresh_delete_emits_cdf_tombstones(spark, tmp_path):
    """In versioned mode the purge lands in the same atomic commit as
    the merge, and changes() shows the purged rows as delete
    tombstones of that one version step."""
    root = generate(tmp_path / "vdel")
    sources = load_dag_sources(spark, str(root / "raw"))
    wh = str(root / "wh_v")
    runner = Runner(spark, sources, warehouse_dir=wh,
                    materialize="versioned")
    runner.run(["trades_history"])
    vt = runner.table("trades_history")
    v0 = vt.latest_version()
    before = vt.read()
    purged = before.filter(F.col("trade_id") == 9003)
    n_purged = purged.count()
    assert n_purged > 0

    dk = spark.createDataFrame([(9003,)], "trade_id bigint")
    runner.merge_refresh("trades_history", {}, delete_keys=dk)
    v1 = vt.latest_version()
    assert v1 == v0 + 1
    assert vt.versions()[-1]["op"] == "merge_refresh+delete"
    feed = vt.changes(v0, v1)
    assert feed.filter(F.col("_change_type") == "insert").isEmpty()
    dels = feed.filter(F.col("_change_type") == "delete")
    assert dels.count() == n_purged
    assert _rows(dels.drop("_change_type")) == _rows(purged)


def test_refresh_refuses_multibatch_warehouse(spark, tmp_path):
    """A warehouse that has landed merged delta batches must not be
    single-raw-dir refreshed: the staleness model fingerprints ONE raw
    dir, so a rebuild would come from the Batch1 feeds alone and drop
    the merged rows. mark_batches_landed + the refresh guard close
    that footgun loudly."""
    import pytest

    from dbt_tpcdi_spark.streaming.incremental import IncrementalRunner
    from dbt_tpcdi_spark.tpcdi.fixtures import generate

    root = generate(tmp_path / "fx")
    inc = IncrementalRunner(spark, str(root / "raw"),
                            str(tmp_path / "wh"))
    inc.mark_batches_landed([1, 2, 3])
    with pytest.raises(ValueError, match="merged delta batches"):
        inc.refresh()
