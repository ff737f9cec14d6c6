"""Runner behavior: what a warehouse looks like after a model fails
mid-run on the thread pool, and the Spark work one model write and one
repeated DAG pass cost."""

from __future__ import annotations

import dataclasses
import os
import uuid

import pytest

from dbt_tpcdi_spark.plans import registry
from dbt_tpcdi_spark.plans.runner import MANIFEST_TABLE, Runner
from dbt_tpcdi_spark.plans.sources import load_dag_sources
from dbt_tpcdi_spark.plans.versioned import VersionedTable, is_versioned
from dbt_tpcdi_spark.tpcdi.fixtures import generate


class _BuilderFailed(RuntimeError):
    pass


def test_failing_model_commits_no_manifest(spark, tmp_path, monkeypatch):
    """Versioned ``run(parallelism=8)`` with one model's builder
    raising: the error propagates, the warehouse manifest does not
    advance, models committed before the failure stay readable, and
    nothing downstream of the failed model is written."""
    root = generate(tmp_path / "fx")
    sources = load_dag_sources(spark, str(root / "raw"))
    wh = str(tmp_path / "wh")
    Runner(spark, sources, warehouse_dir=wh,
           materialize="versioned").run(targets=["employees"])
    mt = VersionedTable(spark, os.path.join(wh, MANIFEST_TABLE))
    assert mt.latest_version() == 0

    def boom(ref, src):
        raise _BuilderFailed("employees")

    models = registry.all_models()
    monkeypatch.setitem(registry.MODELS, "employees",
                        dataclasses.replace(models["employees"], build=boom))
    with pytest.raises(_BuilderFailed):
        Runner(spark, sources, warehouse_dir=wh,
               materialize="versioned").run(parallelism=8)

    assert mt.latest_version() == 0
    # the failed model's dependency committed again in this run and
    # reads back whole; the failed model keeps its earlier version
    hr = VersionedTable(spark, os.path.join(wh, "hr_employee"))
    assert hr.latest_version() == 1
    assert hr.read().count() == hr.read(0).count() > 0
    assert VersionedTable(
        spark, os.path.join(wh, "employees")).latest_version() == 0
    committed = [n for n in models if is_versioned(os.path.join(wh, n))]
    for n in committed:
        VersionedTable(spark, os.path.join(wh, n)).read().count()
    assert "dim_broker" not in committed


def test_failing_model_parquet_keeps_previous_tables(
        spark, tmp_path, monkeypatch):
    """Parquet ``run(parallelism=8)`` with one model's builder raising:
    the error propagates once in-flight siblings finish, upstream
    tables rewritten in this run and the failed model's previous table
    read back whole, and nothing downstream of it is written."""
    root = generate(tmp_path / "fx")
    sources = load_dag_sources(spark, str(root / "raw"))
    wh = str(tmp_path / "wh")
    Runner(spark, sources, warehouse_dir=wh).run(targets=["employees"])

    def rows(n):
        return spark.read.parquet(os.path.join(wh, n)).count()

    before = {n: rows(n) for n in ("hr_employee", "employees")}
    assert before["hr_employee"] > 0

    def boom(ref, src):
        raise _BuilderFailed("employees")

    models = registry.all_models()
    monkeypatch.setitem(registry.MODELS, "employees",
                        dataclasses.replace(models["employees"], build=boom))
    with pytest.raises(_BuilderFailed):
        Runner(spark, sources, warehouse_dir=wh).run(parallelism=8)

    assert {n: rows(n) for n in before} == before
    written = [n for n in models if os.path.isdir(os.path.join(wh, n))]
    for n in written:
        rows(n)
    assert "dim_broker" not in written


class _GroupedRunner(Runner):
    """Tags every model write's Spark jobs with one job group. Job
    groups are thread-local and ``run`` writes on pool threads, so the
    group is set inside ``_write``, on the thread that submits."""

    group = f"test-runner-{uuid.uuid4().hex}"

    def _write(self, name, df, op):
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group, name)
        try:
            return super()._write(name, df, op)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


def test_parquet_write_reads_back_without_inference_job(spark, tmp_path):
    """A parquet-mode model write launches exactly one Spark job (the
    write): the read-back takes the written frame's schema instead of
    running a footer-inference job per model."""
    root = generate(tmp_path / "fx")
    sources = load_dag_sources(spark, str(root / "raw"))
    runner = _GroupedRunner(spark, sources, warehouse_dir=str(tmp_path / "wh"))
    out = runner.run(targets=["hr_employee"])
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(runner.group)) == 1
    assert out["hr_employee"].count() == sources["hr"].count() > 0


def test_second_dag_pass_compiles_no_stage_code(spark, tmp_path):
    """Two full parquet DAG passes in one driver: the codegen cache
    holds a whole pass, so the second pass compiles no class at all
    (CodegenMetrics counts one compilation-time sample per compile)."""
    root = generate(tmp_path / "fx")
    raw, wh = str(root / "raw"), str(tmp_path / "wh")
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    Runner(spark, load_dag_sources(spark, raw),
           warehouse_dir=wh).run(parallelism=8)
    first = compiles.getCount()
    Runner(spark, load_dag_sources(spark, raw),
           warehouse_dir=wh).run(parallelism=8)
    assert compiles.getCount() == first
