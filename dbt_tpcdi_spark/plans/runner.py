"""Topological DAG materializer — the engine's analog of `dbt build`
over Snowflake Dynamic Tables (reference README.md:209-312).

``Runner.run`` is the one DAG executor: the full build, the batch
landing's stale cone (``plans.batches.land_batch``) and the
fingerprint refresh (``streaming.incremental.IncrementalRunner``) all
schedule through it, and every model write — including
``merge_refresh``'s full-table commit — goes through ``Runner._write``,
the one place that decides how a model is stored.

Storage modes:

- ``parquet`` (default): each model is written to
  ``<warehouse>/<name>`` and read back. This mirrors the reference
  (every model IS a table), truncates lineage so downstream plans stay
  small, and gives every consumer columnar pruning/pushdown. At scale
  this is the right call for multi-consumer nodes (crm_customer_mgmt
  feeds accounts+customers; trades_history feeds trades+dim_trade).
- ``versioned``: like ``parquet`` but every model is a
  ``plans.versioned.VersionedTable`` — each run/refresh appends an
  atomic commit instead of overwriting, so readers keep snapshot
  isolation, any build is time-travelable, and a bad refresh is
  ``restore()``-able. This is the Snowflake-parity mode (the
  reference's tables are transactional/time-travelable for free), and
  the only mode ``merge_refresh`` lands deltas in: the commit is the
  publish, so a crashed merge leaves the previous version current.
  Models declaring ``merge_partition`` are stored under an internal
  partition manifest; the rest honor their declared ``Layout``.

Models are scheduled on a thread pool as their dependencies finish
(``parallelism`` workers; 1 = one model at a time). Spark schedules
each write's stages across all cores, so model-level concurrency only
pays when many small models underutilize the cluster (SURVEY.md §3.2).
"""

from __future__ import annotations

import graphlib
import os

from pyspark.sql import DataFrame, SparkSession

from dbt_tpcdi_spark.plans.registry import Layout, Model, all_models

#: table name (under the warehouse dir) of the run-level snapshot
#: manifest — itself a VersionedTable, so manifests are atomic,
#: time-travelable commits like everything else
MANIFEST_TABLE = "_warehouse_manifest"


def commit_warehouse_manifest(
    spark: SparkSession, warehouse_dir: str
) -> int:
    """Run-level consistent snapshot (VERDICT r9 item 4): record
    ``{model: current version}`` for every versioned model table in
    the warehouse as ONE atomic manifest commit. Versioned tables
    commit independently, so a reader during a refresh could join
    ``fact_trade``@new to ``dim_trade``@old — a torn cross-table
    view; pinning through ``read_warehouse`` removes that window.
    Returns the manifest version (the warehouse-level snapshot id).

    Enumeration is itself not atomic, so a WRITER committing
    mid-enumeration could make the manifest name a torn pre/post
    mix — the exact hazard it exists to close. Guard: re-enumerate
    until two consecutive passes agree (double-read validation — the
    snapshot is consistent iff nothing moved while it was taken);
    bail after ``max_passes`` so a continuously-committing writer
    can't livelock the caller. ``Runner.run`` (which build, batch
    landing and refresh all go through) holds the single-writer role
    for its warehouse, so pass 2 normally agrees immediately."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable

    def _enumerate() -> list[tuple[str, int]]:
        out = []
        for name in sorted(all_models()):
            root = os.path.join(warehouse_dir, name)
            if os.path.isdir(os.path.join(root, "_log")):
                v = VersionedTable(spark, root).latest_version()
                if v is not None:
                    out.append((name, v))
        return out

    max_passes = 5
    rows = _enumerate()
    for _ in range(max_passes):
        again = _enumerate()
        if again == rows:
            break
        rows = again
    else:
        raise RuntimeError(
            f"{warehouse_dir}: table versions kept moving across "
            f"{max_passes} enumeration passes — a concurrent refresh "
            "is in flight; retry when it settles"
        )
    if not rows:
        raise ValueError(
            f"{warehouse_dir}: no versioned model tables to manifest"
        )
    from dbt_tpcdi_spark.session import local_df

    mdf = local_df(spark, rows, "model string, version bigint")
    mt = VersionedTable(
        spark, os.path.join(warehouse_dir, MANIFEST_TABLE)
    )
    return mt.commit(mdf, op="manifest")


def read_warehouse(
    spark: SparkSession,
    warehouse_dir: str,
    manifest_version: int | None = None,
) -> dict[str, DataFrame]:
    """Consistent cross-table read: every model pinned at the version
    the (given or latest) manifest recorded. Concurrent refreshes
    landing table-by-table are invisible — each table's snapshot is
    immutable and the manifest names exactly one per model. The
    manifest collect is ≤ |models| rows (metadata-sized). Pair with
    ``VersionedTable.vacuum(keep_last=...)`` sized to the oldest
    manifest still served."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable

    mt = VersionedTable(
        spark, os.path.join(warehouse_dir, MANIFEST_TABLE)
    )
    pins = {
        r["model"]: int(r["version"])
        for r in mt.read(manifest_version).collect()
    }
    return {
        m: VersionedTable(
            spark, os.path.join(warehouse_dir, m)
        ).read(v)
        for m, v in pins.items()
    }


def read_model(
    spark: SparkSession, warehouse_dir: str, name: str
) -> DataFrame:
    """A model's CURRENT warehouse table: the latest snapshot for a
    versioned table, plain parquet otherwise."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable, is_versioned

    path = os.path.join(warehouse_dir, name)
    if is_versioned(path):
        return VersionedTable(spark, path).read()
    return spark.read.parquet(path)


def _key_derived(df: DataFrame, key: str, expr: str) -> bool:
    """True iff ``expr`` resolves against a key-only projection of
    ``df`` — i.e. references nothing but the key, so it is a
    deterministic per-row function of the key and the partitioned
    upsert's key-spread probe is provably redundant. Analysis-time
    only (no Spark job)."""
    from pyspark.sql import functions as F

    try:
        df.select(key).select(F.expr(expr))
        return True
    except Exception:
        return False


def apply_layout(df: DataFrame, layout: Layout) -> DataFrame:
    """Cluster ``df`` per its model's declared physical layout BEFORE
    the versioned write, so the skipping metadata the commit records
    actually prunes: a range layout keeps per-file min/max narrow on
    the range keys; a Z-order layout keeps BOTH interleaved dims
    narrow. One range shuffle either way — the identical cost profile
    to ``df.sort``, already paid by any clustered table at 100 TB."""
    if layout.zorder:
        from dbt_tpcdi_spark.operators.layout import (
            zorder_repartition_normalized,
        )

        x, y = layout.zorder
        return zorder_repartition_normalized(df, x, y, layout.files)
    if layout.range_by:
        if layout.files:
            return df.repartitionByRange(layout.files, *layout.range_by)
        return df.repartitionByRange(*layout.range_by)
    return df


def topo_order(models: dict[str, Model]) -> list[str]:
    ts = graphlib.TopologicalSorter({n: set(m.deps) for n, m in models.items()})
    return list(ts.static_order())


def ancestors(models: dict[str, Model], targets: list[str]) -> set[str]:
    seen: set[str] = set()
    stack = list(targets)
    while stack:
        n = stack.pop()
        if n not in seen:
            seen.add(n)
            stack.extend(models[n].deps)
    return seen


class Runner:
    def __init__(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        warehouse_dir: str,
        materialize: str = "parquet",
        layout_files: int | None = None,
    ) -> None:
        """``layout_files``: explicit output-file count for every model's
        range layout (overrides ``Layout.files``). The production
        default (None) lets AQE size the layout shuffle by data
        volume; at bench/fixture scale AQE correctly folds a tiny
        range shuffle to ONE file, which makes pruning unobservable —
        passing a small explicit count here keeps >1 file per layout
        WITHOUT disabling AQE partition coalescing for the whole
        build (the old treatment, which inflated every intermediate
        shuffle of all 45 models: AQE ignores a repartitionByRange
        only when it carries an explicit partition count)."""
        if materialize not in ("parquet", "versioned"):
            raise ValueError(materialize)
        self.spark = spark
        self.sources = sources
        self.warehouse_dir = warehouse_dir
        self.materialize = materialize
        self.layout_files = layout_files

    def run(
        self, targets: list[str] | None = None, parallelism: int = 1,
        prebuilt: dict[str, DataFrame] | None = None, op: str = "build",
    ) -> dict[str, DataFrame]:
        """Materialize ``targets`` and their ancestors (``None`` = every
        model; ``[]`` = none, which in versioned mode still commits the
        warehouse manifest). Ready models run on a ``parallelism``-wide
        thread pool (the analog of the reference's 20-thread dbt
        build, README.md:215): Spark job submission is thread-safe, so
        sibling models' write jobs overlap. Results are identical for
        any width.

        ``prebuilt`` seeds models that are ALREADY materialized (e.g.
        merge-refreshed SCD2 tables, or fresh tables a batch landing
        or refresh reads from the warehouse): they resolve as
        dependencies but are neither rebuilt nor re-written. ``op`` is
        the commit label versioned writes record in table history.

        A failing model propagates its exception once in-flight
        siblings finish; versioned mode then commits no manifest."""
        import concurrent.futures as cf

        models = all_models()
        wanted = (set(models) if targets is None
                  else ancestors(models, targets))
        built: dict[str, DataFrame] = dict(prebuilt or {})
        wanted -= set(built)

        ts = graphlib.TopologicalSorter(
            # prebuilt deps are satisfied already — keep them out of
            # the sorter or get_ready() would schedule them as builds
            {n: set(models[n].deps) & wanted for n in wanted}
        )
        ts.prepare()
        with cf.ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
            in_flight: dict[cf.Future, str] = {}
            while ts.is_active():
                for name in ts.get_ready():
                    def build_one(n: str = name) -> DataFrame:
                        df = models[n].build(
                            built.__getitem__, self.sources.__getitem__
                        )
                        return self._write(n, df, op)

                    in_flight[pool.submit(build_one)] = name
                done, _ = cf.wait(in_flight, return_when=cf.FIRST_COMPLETED)
                for fut in done:
                    name = in_flight.pop(fut)
                    built[name] = fut.result()  # raises on failure
                    ts.done(name)
        if self.materialize == "versioned":
            self.commit_manifest()
        return built

    def read_model(self, name: str) -> DataFrame:
        """The model's current warehouse table — how batch landing and
        refresh resolve fresh upstreams without recomputing them."""
        return read_model(self.spark, self.warehouse_dir, name)

    def commit_manifest(self) -> int:
        """Record the run-level ``{model: version}`` snapshot manifest
        (versioned mode; called automatically at the end of ``run``).
        Callers driving ``merge_refresh`` directly should call this
        once per refresh BATCH — after all of the batch's merges have
        landed — so each manifest names a mutually consistent set."""
        if self.materialize != "versioned":
            raise ValueError(
                "commit_manifest() requires materialize='versioned'")
        return commit_warehouse_manifest(self.spark, self.warehouse_dir)

    def read_warehouse(
        self, manifest_version: int | None = None
    ) -> dict[str, DataFrame]:
        """Consistent cross-table view pinned at a manifest — see
        module-level ``read_warehouse``."""
        return read_warehouse(
            self.spark, self.warehouse_dir, manifest_version
        )

    def _write(self, name: str, df: DataFrame, op: str) -> DataFrame:
        """Write model ``name``'s full table and return it read back —
        the one decision of how a model is stored, shared by build,
        refresh and ``merge_refresh``'s full-table commit:

        - a ``merge_partition`` model replaces its table under the
          internal partition manifest, so ``merge_refresh``'s
          partition-pruned path is live from the first delta;
        - any other versioned model commits a snapshot clustered per
          its declared ``Layout`` with the layout's stats/bloom
          sidecars (the way the reference's dynamic tables keep
          Snowflake clustering across refreshes);
        - parquet mode overwrites ``<warehouse>/<name>``.

        ``op`` is the commit label recorded in versioned history."""
        if self.materialize == "parquet":
            path = os.path.join(self.warehouse_dir, name)
            df.write.mode("overwrite").parquet(path)
            # the written df's schema IS the file schema — skip the
            # one-task footer-inference job per model
            return self.spark.read.schema(df.schema).parquet(path)
        vt = self.table(name)
        m = all_models().get(name)
        if m is not None and m.merge_partition is not None:
            from pyspark.sql import functions as F

            col, expr = m.merge_partition
            vt.partitioned_upsert(
                df.withColumn(col, F.expr(expr)),
                key=m.scd2_key, partition_col=col,
                internal=True, overwrite=True,
                check_key_spread=not _key_derived(df, m.scd2_key, expr),
                op=op,
            )
            # internal layout col is a storage detail — reads see
            # the model's own schema (skips inference, see read())
            return vt.read(schema=df.schema)
        layout = self._layout(name)
        if layout:
            df = apply_layout(df, layout)
        vt.commit(
            df, op=op,
            stats_cols=(list(layout.stats_cols) or None) if layout else None,
            bloom_cols=(list(layout.bloom_cols) or None) if layout else None,
        )
        # the just-written df's schema IS the file schema for a flat
        # snapshot — skip the per-model inference job
        return vt.read(schema=df.schema)

    def _layout(self, name: str) -> Layout | None:
        """The model's declared physical layout (versioned mode honors
        it at every commit — build AND merge_refresh — the way the
        reference's dynamic tables keep Snowflake clustering across
        refreshes)."""
        m = all_models().get(name)
        lay = m.layout if m else None
        if (
            lay is not None
            and self.layout_files
            and lay.range_by
            and not lay.files
        ):
            import dataclasses

            lay = dataclasses.replace(lay, files=self.layout_files)
        return lay

    def table(self, name: str):
        """The model's ``VersionedTable`` (versioned mode only) — the
        handle for time travel / restore / vacuum."""
        from dbt_tpcdi_spark.plans.versioned import VersionedTable

        if self.materialize != "versioned":
            raise ValueError("table() requires materialize='versioned'")
        return VersionedTable(
            self.spark, os.path.join(self.warehouse_dir, name)
        )

    def merge_refresh(
        self, name: str, delta_refs: dict[str, DataFrame],
        replace: bool = False,
        delete_keys: DataFrame | None = None,
    ) -> DataFrame:
        """Row-level incremental refresh of an SCD2 model (the Batch2/3
        path the reference defers, README.md:53-55; SURVEY §7.4).

        Runs the model's builder with ``delta_refs`` substituted for the
        named upstreams (everything else resolves to the existing
        warehouse tables), strips the builder's recomputed SCD2 columns,
        and ``merge_scd2``s the result into the existing table — so only
        rows of touched entity keys move.

        ``replace=True`` switches to full-version replacement: the
        delta must yield the COMPLETE version history of each touched
        key, and existing versions of those keys are discarded (TPC-DI
        Batch2 Trade.txt updates — see ``merge_scd2``).

        ``delete_keys`` is the batch's CDC DELETE feed (TPC-DI Batch2+
        rows flagged CDC_FLAG='D'): a DataFrame carrying the model's
        ``scd2_key`` column; the ENTIRE version history of those keys
        is purged, applied AFTER the upsert merge (a key both updated
        and deleted in one batch ends deleted), as one anti-join —
        O(batch) shuffle, and the purge lands in the same atomic
        commit as the merge, so the change feed
        (``VersionedTable.changes``) shows the purged rows as
        ``_change_type='delete'`` tombstones of that single version
        step. A later batch re-inserting the key simply starts a fresh
        history (the delete is not remembered). Pass an empty
        ``delta_refs`` for a delete-only refresh.

        Valid when the builder is row-local over the delta upstream
        (code-table joins are fine; models that temporal-join another
        SCD2 model — securities/financials over companies — need that
        upstream's merge applied first, and existing rows' temporal
        matches unchanged, else fall back to a full refresh).

        Versioned mode only: the merged table lands as one commit, so
        the snapshot being read stays immutable and a crashed merge
        leaves the pre-merge version current. A parquet ``Runner``
        raises ``ValueError``.
        """
        from dbt_tpcdi_spark.operators.scd2 import merge_scd2

        if self.materialize != "versioned":
            raise ValueError(
                "merge_refresh lands deltas in versioned mode only: build "
                "the warehouse with materialize='versioned'")
        m = all_models()[name]
        if m.scd2_key is None:
            raise ValueError(f"{name} is not an SCD2 model")

        def ref(n: str) -> DataFrame:
            if n in delta_refs:
                return delta_refs[n]
            return self.read_model(n)

        def src(n: str) -> DataFrame:
            if n in delta_refs:
                return delta_refs[n]
            return self.sources[n]

        vt = self.table(name)
        if (
            m.merge_partition is not None
            and delta_refs
            and delete_keys is None
        ):
            latest = vt.latest_version()
            entry = vt._entry(latest) if latest is not None else None
            if entry is not None and entry.get("part_col") == m.merge_partition[0]:
                # PARTITION-PRUNED merge (VERDICT r10 item 1): rewrite
                # only the partitions the delta touches — O(touched
                # partitions + delta) instead of the full-table
                # copy-on-write below. Falls through to the full path
                # (which re-establishes the manifest) for delete purges
                # and tables without one (legacy builds).
                return self._merge_refresh_partitioned(
                    m, vt, ref, src, replace
                )

        existing = vt.read()
        if delta_refs:
            delta_built = m.build(ref, src).drop(
                "end_timestamp", "is_current")
            merged = merge_scd2(existing, delta_built, key=m.scd2_key,
                                replace=replace)
        else:
            if delete_keys is None:
                raise ValueError(
                    "merge_refresh needs delta_refs, delete_keys, or both")
            merged = existing
        if delete_keys is not None:
            merged = merged.join(
                delete_keys.select(m.scd2_key).distinct(),
                m.scd2_key, "left_anti",
            )
        # the pre-merge version stays readable/restorable
        return self._write(
            name, merged,
            "merge_refresh+delete" if delete_keys is not None
            else "merge_refresh",
        )

    def _merge_refresh_partitioned(
        self, m: Model, vt, ref, src, replace: bool
    ) -> DataFrame:
        """Partition-scoped row-level refresh: the delta's recomputed
        rows land via ``partitioned_upsert`` on the model's declared
        ``merge_partition`` column, so only touched partitions of the
        table rewrite — the Delta/Iceberg dynamic-partition MERGE
        shape. A ≤1% delta at fact volume rewrites 1-2 partitions out
        of dozens instead of copy-on-writing the whole snapshot, which
        is what makes incremental refresh CHEAPER than rebuild (the
        dynamic-table economics the reference gets from Snowflake,
        dbt_project.yml:33-47).

        ``replace=False`` re-windows existing versions of touched keys
        alongside the delta; the partition expr is a function of the
        key, so those versions provably live in the delta's own
        partitions — ``read_parts`` fetches them without scanning the
        rest of the table."""
        from pyspark.sql import functions as F

        from dbt_tpcdi_spark.operators.scd2 import with_scd2

        col, pexpr = m.merge_partition
        delta_built = m.build(ref, src).drop(
            "end_timestamp", "is_current"
        ).withColumn(col, F.expr(pexpr))
        key_derived = _key_derived(delta_built, m.scd2_key, pexpr)
        if replace:
            to_window = delta_built
        else:
            vals = [
                r[0] for r in delta_built.select(col).distinct().collect()
            ]
            touched, _ = vt.read_parts(vals)  # internal: no layout col
            touched = (
                touched.join(
                    delta_built.select(m.scd2_key).distinct(),
                    m.scd2_key, "left_semi",
                )
                .drop("end_timestamp", "is_current")
                .withColumn(col, F.expr(pexpr))
            )
            to_window = touched.unionByName(delta_built)
        updates = with_scd2(to_window, key=m.scd2_key)
        # the upsert consumes `updates` three times (key-spread check,
        # touched-value collect, merge write); persist the delta-sized
        # result so the builder's join lineage runs once, not 3x
        updates = updates.persist()
        try:
            vt.partitioned_upsert(
                updates, key=m.scd2_key, partition_col=col, internal=True,
                check_key_spread=not key_derived,
            )
        finally:
            updates.unpersist()
        return vt.read()


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """The reference's singular data test, generalized
    (tests/fact_trade__unique_trade.sql: group by key having count>1).
    Empty result == PASS."""
    from pyspark.sql import functions as F

    return df.groupBy(*keys).agg(F.count("*").alias("cnt")).filter("cnt > 1")
