"""Runner failure paths: what a warehouse looks like after a model
fails mid-run on the thread pool."""

from __future__ import annotations

import dataclasses
import os

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
