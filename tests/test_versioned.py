"""VersionedTable (plans/versioned.py): commit/read/time-travel/
restore/vacuum semantics, crash-garbage tolerance, commit-race
atomicity, and the Runner's versioned materialization mode."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dbt_tpcdi_spark.plans.runner import Runner
from dbt_tpcdi_spark.plans import versioned as V
from dbt_tpcdi_spark.plans.versioned import VersionedTable


@pytest.fixture(params=["hardlink"], autouse=True)
def commit_protocol(request):
    """Every VersionedTable in this module commits through the one
    protocol, the link(2) create-if-absent CAS (HardLinkCommit); the
    parameter names it in each test id."""
    return request.param


def _df(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "x int")


def _vals(df):
    return sorted(r.x for r in df.collect())


def test_commit_read_time_travel_restore(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    assert vt.commit(_df(spark, 1, 2)) == 0
    assert vt.commit(_df(spark, 3)) == 1
    assert _vals(vt.read()) == [3]
    assert _vals(vt.read(version=0)) == [1, 2]

    t_after_v1 = vt.versions()[-1]["committed_at"]
    assert vt.commit(_df(spark, 4)) == 2
    assert _vals(vt.as_of(t_after_v1)) == [3]

    # restore appends history; no data movement
    assert vt.restore(0) == 3
    assert _vals(vt.read()) == [1, 2]
    assert vt.versions()[-1]["data"] == vt.versions()[0]["data"]


def test_snapshot_isolation_across_commits(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_df(spark, 1, 2))
    old_reader = vt.read()  # resolved at v0
    vt.commit(_df(spark, 9))
    # the pre-commit reader still sees v0 — writers never break readers
    assert _vals(old_reader) == [1, 2]
    assert _vals(vt.read()) == [9]


def test_vacuum_drops_unreferenced_keeps_restored(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_df(spark, 1))
    vt.commit(_df(spark, 2))
    vt.commit(_df(spark, 3))
    vt.restore(0)  # v3 references v0's snapshot dir
    # default retention protects the just-written dirs — nothing goes
    assert vt.vacuum(keep_last=2) == []
    removed = vt.vacuum(keep_last=2, retention_seconds=0)  # keep v2+v3
    # v0's dir survives (v3 points at it); v1's dir is dropped
    assert len(removed) == 1
    assert _vals(vt.read()) == [1]
    assert _vals(vt.read(version=2)) == [3]
    with pytest.raises(ValueError):
        vt.read(version=1)


def test_uncommitted_garbage_invisible_and_vacuumed(spark, tmp_path):
    root = tmp_path / "t"
    vt = VersionedTable(spark, str(root))
    vt.commit(_df(spark, 1))
    # crash simulation: a data dir with no log entry + a staged tmp json
    _df(spark, 99).write.parquet(str(root / "data-deadbeef"))
    (root / "_log" / "_tmp-crashed.json").write_text("{}")
    assert _vals(vt.read()) == [1]
    assert vt.latest_version() == 0
    # within the retention window the unreferenced dir is
    # indistinguishable from an in-flight writer's staging — survives
    assert vt.vacuum(keep_last=1) == []
    assert (root / "data-deadbeef").exists()
    assert (root / "_log" / "_tmp-crashed.json").exists()
    # past retention (simulated with 0) it's crash garbage — collected
    removed = vt.vacuum(keep_last=1, retention_seconds=0)
    assert "data-deadbeef" in removed
    assert not (root / "_log" / "_tmp-crashed.json").exists()
    assert _vals(vt.read()) == [1]


class _Killed(RuntimeError):
    """Stand-in for the writer process dying at an injected point."""


class _DiesBeforePublish(V.CommitProtocol):
    """Writer killed BETWEEN the data-dir parquet write (and the
    staged, fsynced log json) and the atomic publish: the commit point
    was never reached, so nothing may become visible."""

    name = "dies-before-publish"

    def publish(self, staged: str, final: str) -> bool:
        raise _Killed()


class _DiesAfterPublish(V.CommitProtocol):
    """Writer killed AFTER the atomic publish succeeded but before
    commit() returned: the commit point was crossed, so the version
    must be durable despite the writer never learning it."""

    name = "dies-after-publish"

    def __init__(self) -> None:
        self._inner = V.HardLinkCommit()

    def publish(self, staged: str, final: str) -> bool:
        assert self._inner.publish(staged, final)
        raise _Killed()


def test_writer_killed_between_data_write_and_commit(spark, tmp_path):
    """VERDICT r7 item 6: failure injection at the real commit path's
    pre-publish crash point. The torn commit must be invisible to
    readers, a retried writer must converge, and the orphan snapshot
    must be vacuumable crash garbage."""
    root = tmp_path / "t"
    vt = VersionedTable(spark, str(root))
    vt.commit(_df(spark, 1))
    live_reader = vt.read()  # resolved at v0 before the crash

    dying = VersionedTable(spark, str(root), protocol=_DiesBeforePublish())
    with pytest.raises(_Killed):
        dying.commit(_df(spark, 2))

    # the half-written snapshot exists on disk but is never referenced:
    # readers (pre-resolved AND fresh) still see v0 only
    data_dirs = [n for n in os.listdir(root) if n.startswith("data-")]
    assert len(data_dirs) == 2  # v0's + the orphan
    assert vt.latest_version() == 0
    assert _vals(vt.read()) == [1]
    assert _vals(live_reader) == [1]

    # a restarted writer converges: same commit lands as v1
    assert vt.commit(_df(spark, 2)) == 1
    assert _vals(vt.read()) == [2]

    # the orphan is crash garbage — reclaimed past retention, and the
    # converged table is untouched
    removed = vt.vacuum(keep_last=2, retention_seconds=0)
    orphan = set(data_dirs) - {vt.versions()[0]["data"]}
    assert set(removed) == orphan
    assert _vals(vt.read()) == [2]
    assert _vals(vt.read(version=0)) == [1]


def test_writer_killed_after_publish_commit_is_durable(spark, tmp_path):
    """The dual crash point: once the protocol's atomic create-if-
    absent succeeded, the commit IS the table's next version even
    though the writer died before returning — and the restarted
    writer's re-run appends (overwrite semantics) instead of
    corrupting."""
    root = tmp_path / "t"
    vt = VersionedTable(spark, str(root))
    vt.commit(_df(spark, 1))

    dying = VersionedTable(spark, str(root), protocol=_DiesAfterPublish())
    with pytest.raises(_Killed):
        dying.commit(_df(spark, 2))

    # durable: the crash happened after the commit point
    assert vt.latest_version() == 1
    assert _vals(vt.read()) == [2]
    # no staged tmp residue: the writer's cleanup ran in-process here;
    # the SIGKILL-shaped residue (staged json left behind) is covered
    # by test_uncommitted_garbage_invisible_and_vacuumed
    assert not [
        n for n in os.listdir(root / "_log") if n.startswith("_tmp")
    ]
    # restarted writer re-runs the same commit: appends v2, converges
    assert vt.commit(_df(spark, 2)) == 2
    assert _vals(vt.read()) == [2]


def test_vacuum_rejects_keep_last_zero(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_df(spark, 1))
    with pytest.raises(ValueError):
        vt.vacuum(keep_last=0)


def test_history_on_plain_table_does_not_corrupt(spark, tmp_path):
    # constructing a handle / listing versions must not plant _log
    # inside a plain parquet directory
    _df(spark, 1, 2).write.parquet(str(tmp_path / "plain"))
    vt = VersionedTable(spark, str(tmp_path / "plain"))
    assert vt.versions() == []
    assert vt.latest_version() is None
    assert not (tmp_path / "plain" / "_log").exists()
    assert _vals(spark.read.parquet(str(tmp_path / "plain"))) == [1, 2]


def test_upsert_rebases_on_commit_race(spark, tmp_path):
    import json as _json
    import os as _os

    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"))

    # rival commits v1 (replacing the table with k=1 -> 11) between our
    # read and our link: simulate by monkeypatching latest_version once
    rival_dir = "data-rival"
    spark.createDataFrame([(1, 11), (2, 20)], "k int, v int") \
        .write.parquet(str(tmp_path / "t" / rival_dir))
    real_commit_entry = vt._commit_entry
    calls = {"n": 0}

    def racing_commit_entry(data_dir, op, max_retries, expected_latest="any",
                            **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            entry = {"version": 1, "data": rival_dir, "op": "rival",
                     "committed_at": 0.0}
            with open(_os.path.join(str(tmp_path / "t"), "_log",
                                    "0000000001.json"), "w") as f:
                _json.dump(entry, f)
        return real_commit_entry(data_dir, op, max_retries, expected_latest,
                                 **kw)

    vt._commit_entry = racing_commit_entry
    vt.upsert(spark.createDataFrame([(3, 30)], "k int, v int"), key="k")
    got = {r.k: r.v for r in vt.read().collect()}
    # the rival's k=1 -> 11 update must survive our upsert (no lost
    # update), and our k=3 insert must land
    assert got == {1: 11, 2: 20, 3: 30}


def test_commit_race_bumps_version(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_df(spark, 1))
    # another writer claims version 1 between our stage and link
    entry = {"version": 1, "data": vt.versions()[0]["data"],
             "op": "rival", "committed_at": 0.0}
    with open(os.path.join(str(tmp_path / "t"), "_log",
                           "0000000001.json"), "w") as f:
        json.dump(entry, f)
    assert vt.commit(_df(spark, 2)) == 2  # lost the race for 1, took 2
    assert _vals(vt.read()) == [2]
    assert _vals(vt.read(version=1)) == [1]  # rival's entry honored


def test_runner_versioned_build_and_merge(spark, tmp_path):
    from dbt_tpcdi_spark.tpcdi.fixtures import generate
    from dbt_tpcdi_spark.plans.sources import load_dag_sources

    root = generate(tmp_path / "vw")
    b1 = load_dag_sources(spark, str(root / "raw"))
    b2 = load_dag_sources(spark, str(root / "raw_batch2"))
    wh = str(tmp_path / "wh")
    runner = Runner(spark, b1, warehouse_dir=wh, materialize="versioned")
    runner.run(["companies"])
    vt = runner.table("companies")
    assert vt.latest_version() == 0
    v0 = vt.read().count()

    merged = runner.merge_refresh(
        "companies", {"finwire_company": b2["cmp"]}
    )
    assert vt.latest_version() == 1
    assert merged.count() > v0  # Batch2 adds company versions
    assert vt.read(version=0).count() == v0  # pre-merge still readable

    # a second run commits new versions on top (append-only history)
    runner.run(["companies"])
    assert vt.latest_version() == 2
    assert vt.read().count() == v0


def test_read_conformed_schema_evolution(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame([(1, "a")], "x int, old string"))
    vt.commit(spark.createDataFrame(
        [(2, 7.5, "k")], "x int, score double, kind string"))
    # old snapshot in today's schema: score/kind NULL, 'old' dropped
    got = vt.read_conformed(0)
    assert [f.name for f in got.schema.fields] == ["x", "score", "kind"]
    row = got.first()
    assert (row.x, row.score, row.kind) == (1, None, None)


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_df(spark, *range(50)).repartition(10))
    frag = vt.versions()[-1]["data"]
    assert len(glob.glob(str(tmp_path / "t" / frag / "*.parquet"))) == 10
    v = vt.compact(target_files=1)
    comp = vt.versions()[-1]["data"]
    assert v == 1 and comp != frag
    assert len(glob.glob(str(tmp_path / "t" / comp / "*.parquet"))) == 1
    assert _vals(vt.read()) == list(range(50))
    assert _vals(vt.read(version=0)) == list(range(50))  # old intact


def test_changes_between_versions(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (3, "c")], "k int, v string"))
    vt.upsert(spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"),
              key="k")
    got = {(r.k, r.v, r._change_type) for r in vt.changes(0).collect()}
    assert got == {
        (2, "b", "delete"), (2, "B", "insert"), (4, "d", "insert"),
    }
    # duplicate rows diff as a multiset: dropping ONE of the (3,'c')
    # pair shows exactly one delete
    vt.commit(spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")], "k int, v string"))
    got2 = {(r.k, r.v, r._change_type)
            for r in vt.changes(1, 2).collect()}
    assert got2 == {(3, "c", "delete")}


def test_changes_apply_reconstructs_target(spark, tmp_path):
    """CDF invertibility: old - deletes + inserts == new (multiset)."""
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b")], "k int, v string"))
    vt.commit(spark.createDataFrame(
        [(1, "A"), (2, "b"), (3, "c")], "k int, v string"))
    ch = vt.changes(0, 1)
    old, new = vt.read(0), vt.read(1)
    dels = ch.filter("_change_type = 'delete'").drop("_change_type")
    ins = ch.filter("_change_type = 'insert'").drop("_change_type")
    rebuilt = old.exceptAll(dels).unionByName(ins)
    assert rebuilt.exceptAll(new).isEmpty()
    assert new.exceptAll(rebuilt).isEmpty()


def test_changes_across_schema_evolution(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame([(1, "a")], "k int, v string"))
    vt.commit(spark.createDataFrame([(1, "a", 5.0)],
                                    "k int, v string, w double"))
    got = {(r.k, r.v, r.w, r._change_type)
           for r in vt.changes(0, 1).collect()}
    # the conformed old row (w=NULL) differs from the new row (w=5.0):
    # one delete + one insert, no crash
    assert got == {(1, "a", None, "delete"), (1, "a", 5.0, "insert")}


def test_concurrent_upserts_no_lost_updates(spark, tmp_path):
    """Two real threads upserting disjoint keys simultaneously: the CAS
    loop serializes them into consecutive versions and BOTH key sets
    land — whatever the interleaving."""
    from concurrent.futures import ThreadPoolExecutor

    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(spark.createDataFrame([(0, 0)], "k int, v int"))

    def up(lo):
        df = spark.createDataFrame(
            [(k, k * 10) for k in range(lo, lo + 5)], "k int, v int"
        )
        vt.upsert(df, key="k")

    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(up, 100), pool.submit(up, 200)]:
            f.result()

    got = {r.k: r.v for r in vt.read().collect()}
    expected = {0: 0}
    expected.update({k: k * 10 for k in range(100, 105)})
    expected.update({k: k * 10 for k in range(200, 205)})
    assert got == expected
    assert vt.latest_version() == 2


# ---------------------------------------------------------------------------
# partitioned_upsert: dynamic-partition-overwrite merge


def _pdf(spark, rows):
    # rows: (k, v, b) — key, payload, partition bucket
    return spark.createDataFrame(rows, "k int, v string, b int")


def _prows(df):
    return sorted((r.k, r.v, r.b) for r in df.collect())


def test_partitioned_upsert_bootstrap_and_merge(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    v0 = vt.partitioned_upsert(
        _pdf(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 1)]), key="k",
        partition_col="b",
    )
    assert v0 == 0
    assert _prows(vt.read()) == [(1, "a", 0), (2, "b", 1), (3, "c", 1)]
    # update key 2 (bucket 1), insert key 4 (new bucket 2)
    vt.partitioned_upsert(
        _pdf(spark, [(2, "B", 1), (4, "d", 2)]), key="k", partition_col="b"
    )
    assert _prows(vt.read()) == [
        (1, "a", 0), (2, "B", 1), (3, "c", 1), (4, "d", 2)
    ]
    # time travel still sees the pre-merge manifest
    assert _prows(vt.read(version=0)) == [
        (1, "a", 0), (2, "b", 1), (3, "c", 1)
    ]


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    root = tmp_path / "t"
    vt = VersionedTable(spark, str(root))
    vt.partitioned_upsert(
        _pdf(spark, [(1, "a", 0), (2, "b", 1), (3, "c", 2)]), key="k",
        partition_col="b",
    )
    entry0 = json.loads((root / "_log" / "0000000000.json").read_text())
    vt.partitioned_upsert(
        _pdf(spark, [(2, "B", 1)]), key="k", partition_col="b"
    )
    entry1 = json.loads((root / "_log" / "0000000001.json").read_text())
    # v1's own directory holds ONLY the touched partition
    subdirs = sorted(
        n for n in os.listdir(root / entry1["data"]) if n.startswith("b=")
    )
    assert subdirs == ["b=1"]
    # untouched partitions still point at v0's immutable directory
    assert entry1["parts"]["0"] == entry0["data"]
    assert entry1["parts"]["2"] == entry0["data"]
    assert entry1["parts"]["1"] == entry1["data"]


def test_partitioned_upsert_plain_table_transition(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.commit(_pdf(spark, [(1, "a", 0), (2, "b", 1)]))  # plain snapshot
    vt.partitioned_upsert(
        _pdf(spark, [(2, "B", 1), (3, "c", 0)]), key="k", partition_col="b"
    )
    assert _prows(vt.read()) == [(1, "a", 0), (2, "B", 1), (3, "c", 0)]


def test_partitioned_manifest_survives_restore_and_vacuum(spark, tmp_path):
    root = tmp_path / "t"
    vt = VersionedTable(spark, str(root))
    vt.partitioned_upsert(
        _pdf(spark, [(1, "a", 0), (2, "b", 1)]), key="k", partition_col="b"
    )
    vt.partitioned_upsert(
        _pdf(spark, [(2, "B", 1)]), key="k", partition_col="b"
    )
    vt.restore(1)  # v2: carries v1's manifest
    vt.partitioned_upsert(
        _pdf(spark, [(1, "A", 0)]), key="k", partition_col="b"
    )  # v3
    # keep v2+v3: both manifests reference v0's dir (bucket carried
    # forward) — vacuum must keep every referenced directory
    removed = vt.vacuum(keep_last=2, retention_seconds=0.0)
    assert _prows(vt.read()) == [(1, "A", 0), (2, "B", 1)]
    assert _prows(vt.read(version=2)) == [(1, "a", 0), (2, "B", 1)]
    entry0_dir = json.loads(
        (root / "_log" / "0000000002.json").read_text()
    )["parts"]["0"]
    assert all(entry0_dir not in r for r in removed)


def test_compact_folds_manifest_to_plain_snapshot(spark, tmp_path):
    root = tmp_path / "t"
    vt = VersionedTable(spark, str(root))
    vt.partitioned_upsert(
        _pdf(spark, [(1, "a", 0), (2, "b", 1)]), key="k", partition_col="b"
    )
    vt.partitioned_upsert(
        _pdf(spark, [(3, "c", 2)]), key="k", partition_col="b"
    )
    v = vt.compact()
    entry = json.loads((root / "_log" / f"{v:010d}.json").read_text())
    assert "parts" not in entry
    assert _prows(vt.read()) == [(1, "a", 0), (2, "b", 1), (3, "c", 2)]


def test_stats_skipping_prunes_files_and_matches_full_scan(spark, tmp_path):
    """Data skipping: a range-laid-out commit with stats_cols lets
    read_where read strictly fewer files than the snapshot holds, and
    the pruned result is value-identical to full-scan + filter."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    t.commit(df.repartitionByRange(8, "k"), stats_cols=["k"])
    pruned, report = t.read_where("k", lo=100, hi=400)
    assert report["files_total"] >= 4
    assert 0 < report["files_read"] < report["files_total"], report
    expect = sorted(
        r["k"] for r in t.read().filter(
            (F.col("k") >= 100) & (F.col("k") <= 400)).collect()
    )
    assert sorted(r["k"] for r in pruned.collect()) == expect
    # stats survive restore (entry carry, like partition manifests)
    t.commit(df.limit(1))  # v1 without stats
    v = t.restore(0)
    pruned2, report2 = t.read_where("k", lo=100, hi=400, version=v)
    assert report2 == report
    assert pruned2.count() == len(expect)


def test_stats_skipping_conservative_without_stats(spark, tmp_path):
    """Versions committed without stats_cols read everything (pruning
    is an optimization, never a correctness dependency); an empty
    intersection still returns the right (empty) result with schema."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    t.commit(df.repartition(4))
    got, report = t.read_where("k", lo=10, hi=20)
    assert report["files_read"] == report["files_total"]
    assert got.count() == 11
    # stats present but window beyond every file range -> zero files
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit(df.repartitionByRange(4, "k"), stats_cols=["k"])
    empty, rep = t2.read_where("k", lo=1000)
    assert rep["files_read"] == 0
    assert empty.count() == 0 and empty.columns == ["k"]


def test_stats_skipping_on_string_and_date_columns(spark, tmp_path):
    """ISO-string stat ordering matches the column ordering for dates
    and plain strings, so pruning stays exact on non-numeric keys."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   (F.col("id") % 365).cast("int")).alias("d"),
        F.format_string("s%04d", F.col("id")).alias("s"),
    )
    t.commit(df.repartitionByRange(8, "d"), stats_cols=["d", "s"])
    import datetime
    lo, hi = datetime.date(2020, 2, 1), datetime.date(2020, 2, 10)
    pruned, report = t.read_where("d", lo=lo, hi=hi)
    assert report["files_read"] < report["files_total"], report
    expect = t.read().filter(
        (F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi))).count()
    assert pruned.count() == expect


def test_bloom_skipping_point_reads(spark, tmp_path):
    """Bloom equality skipping: a present key reads only the files
    whose bitmap admits it and returns exactly the full-scan-filter
    rows; an absent key reads ZERO files; string keys work; versions
    committed without bloom_cols stay conservative (all files read,
    same rows)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        F.format_string("s%04d", F.col("id")).alias("s"),
    )
    # round-robin layout: every file spans the whole key domain, so
    # min/max stats CANNOT prune — exactly bloom's territory
    t.commit(df.repartition(16), stats_cols=["k"], bloom_cols=["k", "s"])

    got, rep = t.read_where_eq("k", 1234)
    assert rep["files_read"] < rep["files_total"], rep
    assert [(r["k"], r["s"]) for r in got.collect()] == [(1234, "s1234")]
    # the range API on the same commit proves min/max is useless here
    _, rep_range = t.read_where("k", lo=1234, hi=1234)
    assert rep_range["files_read"] == rep_range["files_total"]

    absent, rep0 = t.read_where_eq("k", 999_999)
    assert rep0["files_read"] == 0
    assert absent.count() == 0 and absent.columns == ["k", "s"]

    gs, reps = t.read_where_eq("s", "s0077")
    assert reps["files_read"] < reps["files_total"]
    assert [r["k"] for r in gs.collect()] == [77]

    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit(df.repartition(4))
    cons, repc = t2.read_where_eq("k", 7)
    assert repc["files_read"] == repc["files_total"] == 4
    assert cons.count() == 1


def test_bloom_skipping_null_column_files(spark, tmp_path):
    """A file whose bloom column is entirely NULL carries an empty
    bitmap and is provably skippable for ANY probe (NULL never equals
    a value); mixed files keep their non-null keys findable."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 100).select(
        F.when(F.col("id") < 50, F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    # range layout on v: files with v>=50 hold only NULL k
    t.commit(df.repartitionByRange(4, "v"), bloom_cols=["k"])
    got, rep = t.read_where_eq("k", 10)
    assert rep["files_read"] < rep["files_total"], rep
    assert [r["v"] for r in got.collect()] == [10]


def test_read_where_all_composes_range_and_bloom(spark, tmp_path):
    """Conjunctive range + equality pruning: the range dims and the
    bloom key prune multiplicatively, result equals the full-scan
    conjunction, and the composed read prunes at least as hard as
    either predicate alone."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 4000).select(
        (F.col("id") % 64).alias("a"),
        F.col("id").alias("k"),
    )
    t.commit(
        df.repartitionByRange(16, "a"),
        stats_cols=["a"], bloom_cols=["k"],
    )
    got, rep = t.read_where_all({"a": (10, 12)}, eq={"k": 1034})
    _, rep_range = t.read_where_all({"a": (10, 12)})
    _, rep_eq = t.read_where_eq("k", 1034)
    assert rep["files_read"] <= min(
        rep_range["files_read"], rep_eq["files_read"])
    assert rep["files_read"] < rep["files_total"]
    expect = [(r["a"], r["k"]) for r in t.read().filter(
        (F.col("a") >= 10) & (F.col("a") <= 12) & (F.col("k") == 1034)
    ).collect()]
    assert sorted((r["a"], r["k"]) for r in got.collect()) == sorted(expect)
    # impossible conjunction: bloom admits the key's file(s), range
    # excludes them -> zero files, empty result, schema preserved
    none, rep0 = t.read_where_all({"a": (999, 1000)}, eq={"k": 1034})
    assert rep0["files_read"] == 0 and none.count() == 0


def test_read_where_in_bloom_pruning(spark, tmp_path):
    """IN-list pruning: reads exactly the union of the per-value
    admitted files, returns the full-scan IN result, zero files when
    every value is provably absent, conservative without bitmaps."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    t.commit(df.repartition(16), bloom_cols=["k"])
    got, rep = t.read_where_in("k", [3, 977, 1501])
    assert rep["files_read"] < rep["files_total"], rep
    assert sorted(r["k"] for r in got.collect()) == [3, 977, 1501]
    # per-value union bound: IN read <= sum of single-value reads
    singles = sum(
        t.read_where_eq("k", v)[1]["files_read"] for v in [3, 977, 1501])
    assert rep["files_read"] <= singles
    none, rep0 = t.read_where_in("k", [10**9, 10**9 + 1])
    assert rep0["files_read"] == 0 and none.count() == 0


def test_compact_preserves_skipping_metadata(spark, tmp_path):
    """Compaction re-derives stats AND bloom for the rewritten files
    (same columns, same bloom sizing) — pruned reads keep working on
    the compacted version instead of silently reverting to full
    scans."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    t.commit(df.repartitionByRange(16, "k"),
             stats_cols=["k"], bloom_cols=["k"])
    v = t.compact(target_files=4)
    entry = t._entry(v)
    assert "stats" in entry and "bloom" in entry
    got, rep = t.read_where("k", lo=100, hi=150, version=v)
    assert rep["files_total"] == 4
    assert rep["files_read"] < rep["files_total"]
    assert got.count() == 51
    ge, repe = t.read_where_eq("k", 117, version=v)
    # coalesce of a range layout keeps ranges: a single file admits it
    assert repe["files_read"] < repe["files_total"]
    assert [r["k"] for r in ge.collect()] == [117]
    info = next(iter(entry["bloom"].values()))["k"]
    assert info["bits"] == 8192 and info["k"] == 4  # sizing preserved


def test_bloom_type_contract_enforced(spark, tmp_path):
    """ADVICE r8: the int/string-only Bloom contract is ENFORCED, not
    documented — float/bool/timestamp renderings differ between the
    executor cast-to-string and the driver-side str(probe), so a
    bitmap on them would prune files that contain the value. Rejected
    at commit time AND at probe time."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    bad = spark.range(0, 10).select(
        (F.col("id") * 1.5).alias("f"),
        (F.col("id") % 2 == 0).alias("b"),
        F.current_timestamp().alias("ts"),
        F.col("id").alias("k"),
    )
    for col in ("f", "b", "ts"):
        with pytest.raises(TypeError, match="integral/string"):
            t.commit(bad, bloom_cols=[col])
    with pytest.raises(ValueError, match="no column"):
        t.commit(bad, bloom_cols=["zzz"])
    assert t.latest_version() is None  # rejection precedes any write
    t.commit(bad, bloom_cols=["k"])
    with pytest.raises(TypeError, match="int or str"):
        t.read_where_eq("k", 1.5)
    with pytest.raises(TypeError, match="int or str"):
        t.read_where_in("k", [1, True])  # bool is not a valid probe
    with pytest.raises(TypeError, match="int or str"):
        t.read_where_all({}, eq={"k": 3.14})


def test_bloom_probe_contract_scoped_to_bitmapped_cols(spark, tmp_path):
    """ADVICE r9: the probe-type contract applies ONLY to columns that
    actually carry Bloom bitmaps. Equality reads with non-int/str
    probes (date, float, decimal) on stats-only or metadata-free
    tables — where no bitmap can misprune — keep working as
    full-scan-plus-filter instead of raising TypeError."""
    import datetime

    df = spark.range(0, 50).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).alias("f"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
    )
    # metadata-free table: any probe type works, full scan + filter
    t0 = VersionedTable(spark, str(tmp_path / "t0"))
    t0.commit(df)
    got, rep = t0.read_where_eq("f", 7.5)
    assert [r["k"] for r in got.collect()] == [5]
    assert rep["files_read"] == rep["files_total"]
    gd, _ = t0.read_where_eq("d", datetime.date(2020, 1, 11))
    assert [r["k"] for r in gd.collect()] == [10]

    # stats-only table: same — stats prune ranges, not equalities
    t1 = VersionedTable(spark, str(tmp_path / "t1"))
    t1.commit(df, stats_cols=["k"])
    gi, _ = t1.read_where_in("f", [1.5, 3.0])
    assert sorted(r["k"] for r in gi.collect()) == [1, 2]
    ga, _ = t1.read_where_all(
        {"k": (0, 20)}, eq={"d": datetime.date(2020, 1, 4)})
    assert [r["k"] for r in ga.collect()] == [3]

    # bloom on k: probes on k still enforced, probes on f still free
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit(df, bloom_cols=["k"])
    with pytest.raises(TypeError, match="int or str"):
        t2.read_where_eq("k", 1.5)
    gf, _ = t2.read_where_eq("f", 7.5)
    assert [r["k"] for r in gf.collect()] == [5]


def test_append_rejects_partitioned_without_orphan(spark, tmp_path):
    """ADVICE r9: append() on a partition-manifest table raises
    BEFORE writing the batch directory — the failed call leaves no
    orphaned data-* dir behind."""
    import os as _os

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 40).select(
        (F.col("id") % 4).alias("p"), F.col("id").alias("k"))
    t.partitioned_upsert(df, key="k", partition_col="p")
    before = {n for n in _os.listdir(t.root) if n.startswith("data-")}
    with pytest.raises(ValueError, match="partition manifest"):
        t.append(df)
    after = {n for n in _os.listdir(t.root) if n.startswith("data-")}
    assert after == before  # no orphaned batch directory


def test_append_rejects_hive_partitioned_snapshot(spark, tmp_path):
    """ADVICE r10: appending to a snapshot written with partition_by
    used to succeed and commit a 'datas' entry mixing a key=value-
    partitioned dir with a flat batch dir — later reads then fail on
    conflicting partition schemas or drop the partition column. Now
    it raises BEFORE writing the batch dir (no orphan), and old
    entries without the partition_by flag are caught by the
    key=value-subdir scan."""
    import json as _json
    import os as _os

    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 40).select(
        (F.col("id") % 4).alias("p"), F.col("id").alias("k"))
    v = t.commit(df, partition_by=["p"])
    assert t._entry(v)["partition_by"] == ["p"]
    before = {n for n in _os.listdir(t.root) if n.startswith("data-")}
    with pytest.raises(ValueError, match="partition_by"):
        t.append(df.select("k"))
    after = {n for n in _os.listdir(t.root) if n.startswith("data-")}
    assert after == before  # no orphaned batch directory
    # pre-flag entry (simulate an old log without partition_by):
    # the directory scan still refuses
    ep = t._entry_path(v)
    e = t._entry(v)
    e.pop("partition_by")
    with open(ep, "w") as f:
        _json.dump(e, f)
    with pytest.raises(ValueError, match="hive-partitioned"):
        t.append(df.select("k"))
    # flat tables still append fine
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit(df)
    t2.append(df)
    assert t2.read().count() == 80


def test_compact_skipping_restore_bounded_to_append_lineage(
    spark, tmp_path
):
    """ADVICE r10: compact()'s skipping-restore fallback used to scan
    the ENTIRE version history, so compacting a table whose latest
    plain commit deliberately dropped skipping resurrected the old
    stats/bloom config. The scan now stops at the newest non-append
    entry: a skipping-less overwrite stays skipping-less through
    compact, while append lineages still restore."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t.commit(df, stats_cols=["k"], bloom_cols=["k"])
    # a plain overwrite that DELIBERATELY drops skipping
    t.commit(df)
    v = t.compact(target_files=1)
    e = t._entry(v)
    assert "stats" not in e and "bloom" not in e, e
    # but an append lineage stemming from a skipping commit restores
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit(df, stats_cols=["k"])
    t2.append(df.limit(10))
    v2 = t2.compact(target_files=1)
    assert t2._entry(v2).get("stats"), t2._entry(v2)


def test_append_skipping_follows_current_lineage(spark, tmp_path):
    """append() derives skipping by compact()'s lineage rule: a plain
    commit that dropped a Bloom column (the column too) ends the
    lineage, so a later append of a frame without that column lands
    with no Bloom manifest instead of failing on the superseded
    config."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "x int, s string"),
             bloom_cols=["s"])
    t.commit(_df(spark, 3))
    v = t.append(_df(spark, 4))
    assert "bloom" not in t._entry(v)
    assert _vals(t.read()) == [3, 4]


def test_read_where_variants_agree(spark, tmp_path):
    """The four pruned readers share one routine: on a stats+Bloom
    table, plain and append-grown, a one-range read_where_all is
    read_where, a one-probe read_where_all is read_where_eq, and a
    one-value read_where_in is read_where_eq — same rows, same
    report."""
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    plain = VersionedTable(spark, str(tmp_path / "plain"))
    plain.commit(df.repartitionByRange(8, "k"),
                 stats_cols=["k"], bloom_cols=["k", "v"])
    grown = VersionedTable(spark, str(tmp_path / "grown"))
    grown.commit(df.filter("k < 200").repartitionByRange(4, "k"),
                 stats_cols=["k"], bloom_cols=["k", "v"])
    v = grown.append(df.filter("k >= 200").repartitionByRange(4, "k"))
    assert grown._entry(v).get("stats") and grown._entry(v).get("bloom")

    def rows(got):
        frame, report = got
        return sorted(tuple(r) for r in frame.collect()), report

    for t in (plain, grown):
        rng = rows(t.read_where("k", 50, 260))
        assert 0 < rng[1]["files_read"] < rng[1]["files_total"], rng[1]
        assert rows(t.read_where_all({"k": (50, 260)})) == rng
        for col, value in (("k", 123), ("v", 3), ("k", 10**6)):
            eq = rows(t.read_where_eq(col, value))
            assert rows(t.read_where_all({}, eq={col: value})) == eq
            assert rows(t.read_where_in(col, [value])) == eq
        _, rep = t.read_where_eq("k", 123)
        assert rep["files_read"] < rep["files_total"], rep


def test_warehouse_manifest_double_pass_settles(spark, tmp_path, monkeypatch):
    """ADVICE r10: commit_warehouse_manifest re-enumerates until two
    passes agree, so a writer committing mid-enumeration can't land a
    torn manifest; a version bump between pass 1 and pass 2 is
    re-read, and continuous movement raises instead of committing."""
    from dbt_tpcdi_spark.plans import runner as R

    wh = str(tmp_path / "wh")
    models = list(sorted(R.all_models()))[:2]
    df = spark.range(0, 5).select(F.col("id").alias("k"))
    for m in models:
        VersionedTable(spark, f"{wh}/{m}").commit(df)

    bumped = {"done": False}
    orig = VersionedTable.latest_version

    def racing_latest(self):
        v = orig(self)
        # after the first table is read, a "concurrent writer" bumps
        # the second table once — pass 2 must pick up the new version
        if not bumped["done"] and self.root.endswith(models[0]):
            bumped["done"] = True
            VersionedTable(spark, f"{wh}/{models[1]}").commit(df)
        return v

    monkeypatch.setattr(VersionedTable, "latest_version", racing_latest)
    mv = R.commit_warehouse_manifest(spark, wh)
    monkeypatch.setattr(VersionedTable, "latest_version", orig)
    pins = {
        r["model"]: int(r["version"])
        for r in VersionedTable(
            spark, f"{wh}/{R.MANIFEST_TABLE}").read(mv).collect()
    }
    # manifest names the POST-bump version of the second table
    assert pins[models[1]] == 1, pins

    depth = {"in": False}

    def always_moving(self):
        v = orig(self)
        if self.root.endswith(models[1]) and not depth["in"]:
            depth["in"] = True  # commit() re-enters latest_version
            try:
                VersionedTable(spark, f"{wh}/{models[1]}").commit(df)
            finally:
                depth["in"] = False
        return v

    monkeypatch.setattr(VersionedTable, "latest_version", always_moving)
    with pytest.raises(RuntimeError, match="kept moving"):
        R.commit_warehouse_manifest(spark, wh)


def test_partitioned_upsert_internal_and_overwrite(spark, tmp_path):
    """VERDICT r10 item 1 plumbing: ``internal=True`` keeps the
    partition column a storage detail (absent from read()/read_parts()
    schemas), ``overwrite=True`` replaces the whole table (absent keys
    disappear), and the pruned merge still carries untouched
    partitions' directories forward by reference."""
    t = VersionedTable(spark, str(tmp_path / "t"))

    def mk(lo, hi, v):
        return spark.range(lo, hi).selectExpr(
            "id AS k", f"{v} AS val", "CAST(id DIV 100 AS INT) AS blk")

    t.partitioned_upsert(mk(0, 300, 1), key="k", partition_col="blk",
                         internal=True, overwrite=True)
    e0 = t._entry(0)
    assert e0["part_internal"] is True
    assert set(e0["parts"]) == {"0", "1", "2"}
    assert "blk" not in t.read().columns
    assert t.read().count() == 300
    df_p, rep = t.read_parts(["1"])
    assert "blk" not in df_p.columns
    assert df_p.count() == 100 and rep["parts_read"] == 1

    # pruned merge: delta touches only block 2 → blocks 0/1 carried
    # forward BY REFERENCE (same data dir as v0)
    t.partitioned_upsert(mk(250, 300, 9), key="k", partition_col="blk",
                         internal=True)
    e1 = t._entry(1)
    assert e1["parts"]["0"] == e0["parts"]["0"]
    assert e1["parts"]["1"] == e0["parts"]["1"]
    assert e1["parts"]["2"] != e0["parts"]["2"]
    got = t.read()
    assert got.filter("val = 9").count() == 50
    assert got.count() == 300

    # overwrite drops keys absent from updates (rebuild semantics)
    t.partitioned_upsert(mk(0, 120, 2), key="k", partition_col="blk",
                         internal=True, overwrite=True)
    assert t.read().count() == 120
    assert sorted(t._entry(2)["parts"]) == ["0", "1"]

    # internal merge can't transition FROM a plain snapshot
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    t2.commit(mk(0, 50, 1))
    with pytest.raises(ValueError, match="internal-partition"):
        t2.partitioned_upsert(mk(0, 50, 2), key="k", partition_col="blk",
                              internal=True)
    # ...but bootstraps with overwrite=True
    t2.partitioned_upsert(mk(0, 50, 2), key="k", partition_col="blk",
                          internal=True, overwrite=True)
    assert "blk" not in t2.read().columns and t2.read().count() == 50
    # restore of an internal-manifest version keeps the flag
    v = t2.restore(1)
    assert t2._entry(v)["part_internal"] is True
    assert "blk" not in t2.read(v).columns


def test_nprobe_zero_rejected():
    """ADVICE r9: nprobe=0 used to build the probe CTE but skip the
    ADC join (falsy), silently serving the full corpus."""
    from dbt_tpcdi_spark.operators.similarity import ivfpq_adc_topk_sql

    with pytest.raises(ValueError, match="nprobe"):
        ivfpq_adc_topk_sql(
            "embeddings", "id", "embedding", dim=8, nprobe=0)


def test_partitioned_commit_with_skipping_metadata(spark, tmp_path):
    """ADVICE r8: partition_by + stats_cols/bloom_cols used to crash
    (manifests keyed by top-level basenames, but partitioned writes
    nest part files under key=value dirs — where basenames COLLIDE
    across partitions). Manifests now key by relpath; pruned reads
    re-attach the partition column via basePath."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 400).select(
        (F.col("id") % 4).alias("p"),
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    ver = t.commit(
        df.repartitionByRange(4, "k"), partition_by=["p"],
        stats_cols=["k"], bloom_cols=["k"],
    )
    entry = t._entry(ver)
    assert entry["stats"] and entry["bloom"]
    assert all(name.startswith("p=") for name in entry["stats"])
    assert set(entry["stats"]) == set(entry["bloom"])

    got, rep = t.read_where("k", lo=100, hi=120)
    assert rep["files_read"] < rep["files_total"], rep
    expect = sorted(
        (r["p"], r["k"], r["v"]) for r in t.read().filter(
            (F.col("k") >= 100) & (F.col("k") <= 120)).collect())
    assert sorted((r["p"], r["k"], r["v"])
                  for r in got.collect()) == expect
    assert {"p", "k", "v"} <= set(got.columns)  # partition col kept

    ge, repe = t.read_where_eq("k", 37)
    assert repe["files_read"] < repe["files_total"], repe
    assert [(r["p"], r["k"], r["v"]) for r in ge.collect()] == [
        (1, 37, 74)]


def test_restore_carries_bloom(spark, tmp_path):
    """ADVICE r8: restore() used to carry 'stats' forward but drop
    'bloom' — point reads on a restored version silently degraded to
    full scans. Both now survive (same unchanged data_dir)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    t.commit(df.repartition(16), stats_cols=["k"], bloom_cols=["k"])
    t.commit(spark.range(0, 5).select(F.col("id").alias("k")))
    v = t.restore(0)
    entry = t._entry(v)
    assert "stats" in entry and "bloom" in entry
    got, rep = t.read_where_eq("k", 1234, version=v)
    assert rep["files_read"] < rep["files_total"], rep
    assert [r["k"] for r in got.collect()] == [1234]


def test_runner_honors_model_layout(spark, tmp_path):
    """VERDICT r9 item 1: per-model Layout metadata drives the
    versioned materialization — the fact models' declared range
    clustering + stats/bloom land in the commit entry without the
    caller passing anything, and apply_layout's zorder rung clusters
    both dims."""
    from dbt_tpcdi_spark.plans.registry import Layout, all_models
    from dbt_tpcdi_spark.plans.runner import apply_layout

    # the gold facts declare layouts with date-range clustering,
    # date stats, and bloom on their high-cardinality point keys
    m = all_models()["fact_trade"]
    assert m.layout is not None
    assert m.layout.range_by == ("sk_create_date",)
    assert "sk_create_date" in m.layout.stats_cols
    assert set(m.layout.bloom_cols) == {"sk_account_id", "sk_trade_id"}
    for fact in ("fact_market_history", "fact_cash_balances",
                 "fact_cash_transactions", "fact_holdings",
                 "fact_watches"):
        lay = all_models()[fact].layout
        assert lay and lay.range_by and lay.stats_cols and lay.bloom_cols

    # zorder layout: both dims end up narrow per output partition
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
    )
    z = apply_layout(df, Layout(zorder=("x", "y"), files=16))
    assert z.rdd.getNumPartitions() == 16
    spans = z.rdd.mapPartitions(lambda it: [
        (lambda rs: (max(r.x for r in rs) - min(r.x for r in rs),
                     max(r.y for r in rs) - min(r.y for r in rs))
         if rs else None)(list(it))
    ]).collect()
    spans = [s for s in spans if s]
    # a 16-file z-layout over a 64x64 grid keeps each file well under
    # the full 63-wide domain on BOTH dims
    assert all(sx < 48 and sy < 48 for sx, sy in spans), spans

    # layout validation
    with pytest.raises(ValueError, match="exclusive"):
        Layout(range_by=("a",), zorder=("x", "y"), files=4)
    with pytest.raises(ValueError, match="files"):
        Layout(zorder=("x", "y"))


def test_ivfpq_persisted_index_prunes_and_serves(spark, tmp_path):
    """VERDICT r9 item 5: the persisted IVFPQ index serves top-k with
    a cell-pruned read (files_read < files_total on the codes table)
    and the served result is stable across calls (the index is
    immutable versioned state)."""
    from pyspark.sql import functions as F

    from dbt_tpcdi_spark.queries.llm import (
        ivfpq_index_build,
        ivfpq_serve_topk,
    )

    e = spark.range(0, 400).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                F.pmod(F.col("id") * i, F.lit(97)) / 97.0
            ).cast("float"),
        ).alias("embedding"),
    )
    idx = ivfpq_index_build(
        e, str(tmp_path / "idx"), cells=16, blocks=8, codes=16,
        files=8,
    )
    entry = idx["codes"]._entry(idx["codes"].latest_version())
    assert entry.get("stats") and entry.get("bloom")
    top, rep = ivfpq_serve_topk(e, idx, nprobe=4, refine=50, k=10)
    rows = [(r["vec_id"], r["dist2"]) for r in top.collect()]
    assert len(rows) == 10
    assert rep["files_read"] < rep["files_total"], rep
    # the query vector is vec_id 0 itself -> exact match first
    assert rows[0] == (0, 0)
    top2, _ = ivfpq_serve_topk(e, idx, nprobe=4, refine=50, k=10)
    assert [(r["vec_id"], r["dist2"]) for r in top2.collect()] == rows


def test_incremental_refresh_preserves_layout_metadata(spark, tmp_path):
    """An IncrementalRunner refresh of a versioned warehouse must
    honor the model's declared Layout — the refresh commit carries
    stats/bloom like the build commit did, so pruned reads never
    silently degrade to full scans after routine maintenance."""
    from dbt_tpcdi_spark.plans.sources import load_dag_sources
    from dbt_tpcdi_spark.streaming.incremental import IncrementalRunner
    from dbt_tpcdi_spark.tpcdi.fixtures import generate

    root = tmp_path / "fx"
    generate(root)
    wh = str(tmp_path / "wh")
    sources = load_dag_sources(spark, str(root / "raw"))
    Runner(spark, sources, warehouse_dir=wh,
           materialize="versioned").run(targets=["fact_trade"])
    vt = VersionedTable(spark, os.path.join(wh, "fact_trade"))
    v0 = vt.latest_version()
    assert "stats" in vt._entry(v0) and "bloom" in vt._entry(v0)

    inc = IncrementalRunner(spark, str(root / "raw"), wh)
    # force a rebuild of the whole cone (no prior fingerprint state)
    status = inc.refresh()
    assert status["fact_trade"] == "refreshed"
    v1 = vt.latest_version()
    assert v1 > v0
    entry = vt._entry(v1)
    assert entry["op"] == "refresh"
    assert entry.get("stats") and entry.get("bloom"), entry.keys()
    # the refresh cycle commits a run-level manifest (r10) that pins
    # this table at its new version
    from dbt_tpcdi_spark.plans.runner import MANIFEST_TABLE

    mt = VersionedTable(spark, os.path.join(wh, MANIFEST_TABLE))
    pins = {r["model"]: r["version"] for r in mt.read().collect()}
    assert pins["fact_trade"] == v1


def test_incremental_refresh_rebuilds_lost_model_versioned(spark, tmp_path):
    """A model table lost from a versioned warehouse must come back
    from refresh as a versioned table that the refresh's manifest
    pins — not as plain parquet that ``read_warehouse`` silently
    drops."""
    import shutil

    from dbt_tpcdi_spark.plans.registry import all_models
    from dbt_tpcdi_spark.plans.runner import MANIFEST_TABLE
    from dbt_tpcdi_spark.plans.sources import load_dag_sources
    from dbt_tpcdi_spark.streaming.incremental import IncrementalRunner
    from dbt_tpcdi_spark.tpcdi.fixtures import generate

    root = tmp_path / "fx"
    generate(root)
    wh = str(tmp_path / "wh")
    sources = load_dag_sources(spark, str(root / "raw"))
    Runner(spark, sources, warehouse_dir=wh,
           materialize="versioned").run(parallelism=4)
    inc = IncrementalRunner(spark, str(root / "raw"), wh)
    inc.record_state()

    shutil.rmtree(os.path.join(wh, "dim_broker"))
    status = inc.refresh()
    assert status["dim_broker"] == "refreshed"
    assert V.is_versioned(os.path.join(wh, "dim_broker"))
    vt = VersionedTable(spark, os.path.join(wh, "dim_broker"))
    mt = VersionedTable(spark, os.path.join(wh, MANIFEST_TABLE))
    pins = {r["model"]: r["version"] for r in mt.read().collect()}
    assert pins["dim_broker"] == vt.latest_version()
    assert set(pins) == set(all_models())


def test_read_parts_prunes_manifest(spark, tmp_path):
    """read_parts resolves only the requested partition values' leaf
    dirs from the manifest (the index point-lookup serving path):
    rows equal a full-read filter, absent values prove empty, plain
    snapshots raise."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"b{i % 4}") for i in range(40)], "k int, bucket string"
    )
    t.partitioned_upsert(df, key="k", partition_col="bucket")
    got, rep = t.read_parts(["b1", "b3"])
    assert rep == {"parts_total": 4, "parts_read": 2}
    expect = sorted(
        (r["k"], r["bucket"]) for r in t.read().filter(
            F.col("bucket").isin("b1", "b3")).collect())
    assert sorted((r["k"], r["bucket"])
                  for r in got.collect()) == expect
    none, rep0 = t.read_parts(["zz"])
    assert rep0["parts_read"] == 0 and none.count() == 0
    assert none.columns == got.columns

    plain = VersionedTable(spark, str(tmp_path / "p"))
    plain.commit(df)
    with pytest.raises(ValueError, match="manifest"):
        plain.read_parts(["b1"])


def test_compact_zorder_upgrades_layout(spark, tmp_path):
    """Layout-improving compaction (Delta OPTIMIZE ZORDER shape): a
    round-robin-written table where stats prune NOTHING becomes,
    after compact(zorder=...), prunable on BOTH interleaved dims —
    maintenance that upgrades skipping, with identical rows."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    t.commit(df.repartition(16), stats_cols=["x", "y"])
    _, rep0 = t.read_where("x", lo=3, hi=6)
    assert rep0["files_read"] == rep0["files_total"]  # nothing prunes

    v = t.compact(target_files=16, zorder=("x", "y"))
    assert t._entry(v)["op"].startswith("compact(")
    gx, repx = t.read_where("x", lo=3, hi=6, version=v)
    gy, repy = t.read_where("y", lo=3, hi=6, version=v)
    assert repx["files_read"] < repx["files_total"], repx
    assert repy["files_read"] < repy["files_total"], repy
    assert gx.count() == df.filter("x between 3 and 6").count()
    assert gy.count() == df.filter("y between 3 and 6").count()
    # rows identical to the pre-compaction snapshot
    assert t.read(v).exceptAll(t.read(0)).isEmpty()
    assert t.read(0).exceptAll(t.read(v)).isEmpty()

    # range_by variant + exclusivity
    v2 = t.compact(target_files=8, range_by=["y"])
    _, repy2 = t.read_where("y", lo=3, hi=6, version=v2)
    assert repy2["files_read"] < repy2["files_total"]
    with pytest.raises(ValueError, match="exclusive"):
        t.compact(zorder=("x", "y"), range_by=["x"])


def test_append_commits_and_stream_fence(spark, tmp_path):
    """Append-only commits: O(batch) entries referencing all prior
    dirs, snapshot-isolated reads, restore/vacuum/compact aware; the
    streaming sink's batch-id fence makes redelivery a no-op."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 1, 2))
    reader_v0 = t.read()
    t.append(_df(spark, 3))
    assert _vals(t.read()) == [1, 2, 3]
    assert _vals(reader_v0) == [1, 2]  # snapshot isolation holds
    assert _vals(t.read(version=0)) == [1, 2]
    # restore to the first append, then back
    v = t.restore(0)
    assert _vals(t.read(v)) == [1, 2]
    t.restore(1)
    # pruned reads WORK on multi-dir snapshots (r10): this lineage
    # carries no stats, so the read is a conservative full scan with
    # an exact predicate — correct, never an error
    gw, repw = t.read_where("x", lo=1, hi=2)
    assert _vals(gw) == [1, 2]
    assert repw["files_read"] == repw["files_total"]
    # compact folds the fragments into one plain snapshot
    vc = t.compact(target_files=1)
    assert _vals(t.read(vc)) == [1, 2, 3]
    # vacuum keeps every dir the kept tail references
    t.vacuum(keep_last=2, retention_seconds=0)
    assert _vals(t.read()) == [1, 2, 3]

    # streaming sink with batch-id fencing: replay commits nothing
    from dbt_tpcdi_spark.streaming.ops import stream_append_versioned

    s = VersionedTable(spark, str(tmp_path / "s"))
    for b in (0, 1, 2):
        _df(spark, 10 + b).coalesce(1).write.parquet(
            str(tmp_path / "in" / f"b{b}"))

    def stream():
        return (
            spark.readStream.schema("x int")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in"))
        )

    stream_append_versioned(stream(), s, str(tmp_path / "c1"), "q1")
    assert _vals(s.read()) == [10, 11, 12]
    v_done = s.latest_version()
    assert s.last_stream_batch("q1") is not None
    # full redelivery with a fresh checkpoint: every batch is fenced
    stream_append_versioned(stream(), s, str(tmp_path / "c2"), "q1")
    assert s.latest_version() == v_done
    assert _vals(s.read()) == [10, 11, 12]
    # a different query id is NOT fenced (appends its own batches)
    assert s.last_stream_batch("other") is None
