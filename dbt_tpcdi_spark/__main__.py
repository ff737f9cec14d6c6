"""CLI — the engine's analog of the reference's two entry points
(``python tpcdi.py process-files`` + ``dbt build``; SURVEY.md §3):

    python -m dbt_tpcdi_spark build    --raw-dir B1 --warehouse WH [--parallelism 8] [--targets ...] [--versioned] [--batches 1,2,3] [--validate]
    python -m dbt_tpcdi_spark refresh  --raw-dir B1 --warehouse WH
    python -m dbt_tpcdi_spark validate --warehouse WH
    python -m dbt_tpcdi_spark show     --warehouse WH --model fact_trade [-n 10]
    python -m dbt_tpcdi_spark history  --warehouse WH --model fact_trade
    python -m dbt_tpcdi_spark restore  --warehouse WH --model fact_trade --version 0
    python -m dbt_tpcdi_spark vacuum   --warehouse WH --model fact_trade [--keep-last 2]

``build`` ingests the Batch1-style raw files (delimited, FINWIRE,
CustomerMgmt.xml) and materializes all 45 warehouse models in
dependency order; ``refresh`` is the incremental (dynamic-table-analog)
path that rebuilds only stale subtrees; ``validate`` runs the data
tests; ``show`` is the reference's ``--show`` sampling flag.
"""

from __future__ import annotations

import argparse
import sys
import time


def _print_checks(resolve) -> int:
    """Run the data tests — the reference's singular test plus the
    dbt-generic suite (unique / not_null / relationships /
    accepted_values) — over ``resolve(model)``, print one PASS/FAIL
    line each, and return the exit code (1 on any violation)."""
    from dbt_tpcdi_spark.plans.validators import run_checks

    failed = 0
    for name, n in run_checks(resolve):
        if n:
            failed += 1
            print(f"FAIL {name}: {n} violations")
        else:
            print(f"PASS {name}")
    return 1 if failed else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbt_tpcdi_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="full warehouse build from raw files")
    b.add_argument("--raw-dir", required=True)
    b.add_argument("--warehouse", required=True)
    b.add_argument("--parallelism", type=int, default=8)
    b.add_argument("--targets", nargs="*", default=None,
                   help="models to build (ancestors always included, "
                        "like dbt's +model); dbt-style 'model+' also "
                        "pulls every downstream descendant")
    b.add_argument("--versioned", action="store_true",
                   help="materialize models as versioned tables "
                        "(snapshot isolation, time travel, restore); "
                        "implied when --batches lists a later batch")
    b.add_argument("--batches", default="1",
                   help="comma-separated batch numbers, e.g. 1,2,3: "
                        "batch 1 is the full historical build from "
                        "--raw-dir; each later batch N lands the "
                        "delta drop at <raw-dir's parent>/raw_batchN "
                        "(override with --batch-dir N=PATH) via "
                        "row-level SCD2 merge + CDC deletes, then "
                        "rebuilds only the stale downstream models; "
                        "a later batch makes the warehouse versioned, "
                        "and every batch commits one warehouse "
                        "manifest")
    b.add_argument("--batch-dir", action="append", default=[],
                   metavar="N=PATH",
                   help="explicit raw dir for batch N (repeatable)")
    b.add_argument("--validate", action="store_true",
                   help="finish the build with the data-test audit "
                        "(SURVEY §7.4); exit non-zero on violations")

    for cmd, hlp in (("history", "list a versioned model's commits"),
                     ("restore", "restore a versioned model to a version"),
                     ("vacuum", "drop unreferenced snapshots")):
        sp = sub.add_parser(cmd, help=hlp)
        sp.add_argument("--warehouse", required=True)
        sp.add_argument("--model", required=True)
        if cmd == "history":
            sp.add_argument("--diff", metavar="A:B", default=None,
                            help="print the change data feed between "
                                 "versions A and B (insert/delete "
                                 "counts + sample rows)")
        if cmd == "restore":
            sp.add_argument("--version", type=int, required=True)
        if cmd == "vacuum":
            sp.add_argument("--keep-last", type=int, default=2)
            sp.add_argument("--retention-seconds", type=float, default=600.0,
                            help="only reclaim files older than this "
                                 "(in-flight writer protection); 0 only "
                                 "when no writer can be active")

    r = sub.add_parser("refresh", help="incremental refresh (stale subtrees)")
    r.add_argument("--raw-dir", required=True)
    r.add_argument("--warehouse", required=True)

    v = sub.add_parser("validate", help="run data tests on a warehouse")
    v.add_argument("--warehouse", required=True)

    s = sub.add_parser("show", help="sample a materialized model")
    s.add_argument("--warehouse", required=True)
    s.add_argument("--model", required=True)
    s.add_argument("-n", type=int, default=10)

    ln = sub.add_parser(
        "lineage",
        help="print a model's upstream/downstream DAG (dbt docs analog)")
    ln.add_argument("--model", default=None,
                    help="omit to print the whole DAG in build order")

    q = sub.add_parser(
        "query",
        help="run any registered analytics query against a data dir")
    q.add_argument("--name", help="query name (see --list)")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                   help="directory of the parquet tables")
    q.add_argument("-n", type=int, default=20, help="rows to print")
    q.add_argument("--list", action="store_true",
                   help="list registered query names and exit")
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead "
                        "of rows")

    args = p.parse_args(argv)

    if args.cmd == "lineage":
        # pure-registry walk: no Spark startup
        import graphlib

        from dbt_tpcdi_spark.plans.registry import all_models

        models = all_models()
        if args.model is None:
            order = graphlib.TopologicalSorter(
                {n: set(m.deps) for n, m in models.items()}
            ).static_order()
            for n in order:
                m = models[n]
                up = ", ".join(m.deps) if m.deps else "-"
                src = ", ".join(m.sources) if m.sources else "-"
                print(f"{m.layer}\t{n}\tdeps: {up}\tsources: {src}")
            return 0
        if args.model not in models:
            print(f"unknown model {args.model!r} "
                  f"({len(models)} registered)")
            return 2
        from dbt_tpcdi_spark.plans.runner import ancestors

        ups = sorted(ancestors(models, [args.model]) - {args.model})
        downs = sorted(
            n for n in models
            if args.model in ancestors(models, [n]) and n != args.model
        )
        m = models[args.model]
        print(f"model: {args.model} (layer {m.layer})")
        print(f"sources: {', '.join(m.sources) if m.sources else '-'}")
        print(f"upstream ({len(ups)}): {', '.join(ups) if ups else '-'}")
        print(f"downstream ({len(downs)}): "
              f"{', '.join(downs) if downs else '-'}")
        return 0

    if args.cmd == "query" and args.list:
        # no Spark needed to list
        from dbt_tpcdi_spark.queries import all_queries

        for name, qq in sorted(all_queries().items()):
            print(f"{name}\t{','.join(qq.tags)}")
        return 0

    from dbt_tpcdi_spark.session import get_spark

    spark = get_spark("dbt_tpcdi_spark-cli")

    if args.cmd == "query":
        from dbt_tpcdi_spark.queries import all_queries

        reg = all_queries()
        if not args.name:
            print("query: --name or --list is required")
            return 2
        if args.name not in reg:
            print(f"unknown query {args.name!r} "
                  f"({len(reg)} registered; see --list)")
            return 2
        t0 = time.perf_counter()
        df = reg[args.name].build(spark, args.sf_dir)
        if args.explain:
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
            return 0
        rows = df.limit(args.n).collect()
        # stdout stays machine-friendly: TSV header + rows
        print("\t".join(df.columns))
        for r in rows:
            print("\t".join("" if v is None else str(v) for v in r))
        print(f"-- {len(rows)} row(s) shown in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
        return 0

    if args.cmd == "build":
        import os

        from dbt_tpcdi_spark.plans.batches import combine_batch, land_batch
        from dbt_tpcdi_spark.plans.runner import Runner
        from dbt_tpcdi_spark.plans.sources import load_dag_sources

        try:
            batches = sorted({int(x) for x in args.batches.split(",") if x})
        except ValueError:
            print(f"--batches must be comma-separated integers, "
                  f"got {args.batches!r}")
            return 2
        if not batches or batches[0] != 1:
            print("--batches must include batch 1 (the historical load)")
            return 2
        overrides = {}
        for spec in args.batch_dir:
            n, _, path = spec.partition("=")
            overrides[int(n)] = path

        targets = args.targets
        if targets:
            from dbt_tpcdi_spark.plans.registry import all_models
            from dbt_tpcdi_spark.plans.runner import ancestors

            models = all_models()
            expanded: set[str] = set()
            for t in targets:
                name = t.strip("+")
                if name not in models:
                    print(f"unknown model {name!r} in --targets")
                    return 2
                expanded.add(name)
                if t.endswith("+"):  # dbt 'model+': descendants too
                    expanded.update(
                        n for n in models
                        if name in ancestors(models, [n])
                    )
            targets = sorted(expanded)

        t0 = time.perf_counter()
        sources = load_dag_sources(spark, args.raw_dir)
        runner = Runner(
            spark, sources, warehouse_dir=args.warehouse,
            # deltas land only on versioned tables
            materialize=("versioned" if args.versioned or len(batches) > 1
                         else "parquet"),
        )
        built = runner.run(targets=targets or None,
                           parallelism=args.parallelism)
        print(f"batch 1: built {len(built)} models in "
              f"{time.perf_counter() - t0:.1f}s -> {args.warehouse}")

        cumulative = sources
        for n in batches[1:]:
            bdir = overrides.get(n) or os.path.join(
                os.path.dirname(args.raw_dir.rstrip("/")), f"raw_batch{n}")
            if not os.path.isdir(bdir):
                print(f"batch {n}: raw dir not found: {bdir}")
                return 2
            t0 = time.perf_counter()
            batch = load_dag_sources(spark, bdir)
            cumulative = combine_batch(cumulative, batch)
            merged, rebuilt = land_batch(
                runner, batch, cumulative,
                parallelism=args.parallelism)
            print(f"batch {n}: merged {len(merged)} "
                  f"({', '.join(merged)}), rebuilt {len(rebuilt)} "
                  f"downstream in {time.perf_counter() - t0:.1f}s")

        if not args.targets:
            from dbt_tpcdi_spark.streaming.incremental import (
                IncrementalRunner,
            )

            inc = IncrementalRunner(spark, args.raw_dir, args.warehouse)
            if len(batches) == 1:
                # warehouse is fresh w.r.t. --raw-dir: record
                # fingerprints so the next `refresh` is a no-op, not
                # a cold rebuild
                inc.record_state()
            else:
                # merged-batch warehouses must not be single-raw-dir
                # refreshed (it would drop the merged rows) — mark
                # them so `refresh` refuses with guidance
                inc.mark_batches_landed(batches)

        if args.validate:
            return _print_checks(runner.read_model)
        return 0

    if args.cmd == "refresh":
        from dbt_tpcdi_spark.streaming.incremental import IncrementalRunner

        t0 = time.perf_counter()
        try:
            status = IncrementalRunner(
                spark, args.raw_dir, args.warehouse
            ).refresh()
        except ValueError as exc:  # merged-batch warehouse guard
            print(exc)
            return 2
        refreshed = sorted(k for k, v in status.items() if v == "refreshed")
        print(f"refreshed {len(refreshed)}/{len(status)} models in "
              f"{time.perf_counter() - t0:.1f}s"
              + (f": {', '.join(refreshed)}" if refreshed else ""))
        return 0

    from dbt_tpcdi_spark.plans.runner import read_model

    if args.cmd == "validate":
        return _print_checks(lambda m: read_model(spark, args.warehouse, m))

    if args.cmd == "show":
        read_model(spark, args.warehouse, args.model).show(args.n)
        return 0

    if args.cmd in ("history", "restore", "vacuum"):
        from dbt_tpcdi_spark.plans.versioned import VersionedTable, is_versioned

        path = f"{args.warehouse}/{args.model}"
        if not is_versioned(path):
            print(f"{args.model} is not a versioned table "
                  f"(build with --versioned or --batches 1,2,...)")
            return 2
        vt = VersionedTable(spark, path)
        if args.cmd == "history":
            if args.diff:
                a, _, b = args.diff.partition(":")
                try:
                    va, vb = int(a), int(b)
                except ValueError:
                    print(f"--diff must be A:B version ints, "
                          f"got {args.diff!r}")
                    return 2
                feed = vt.changes(va, vb)
                from pyspark.sql import functions as F

                for r in (feed.groupBy("_change_type").count()
                          .orderBy("_change_type").collect()):
                    print(f"{r['_change_type']}\t{r['count']}")
                for r in feed.orderBy(F.col("_change_type")).limit(10) \
                        .collect():
                    print("\t".join(str(v) for v in r))
                return 0
            for e in vt.versions():
                ts = time.strftime("%Y-%m-%d %H:%M:%S",
                                   time.gmtime(e["committed_at"]))
                print(f"v{e['version']}  {ts}Z  {e['op']}  {e['data']}")
            return 0
        if args.cmd == "restore":
            v = vt.restore(args.version)
            print(f"restored {args.model} to v{args.version} (as new v{v})")
            return 0
        removed = vt.vacuum(keep_last=args.keep_last,
                            retention_seconds=args.retention_seconds)
        print(f"vacuumed {len(removed)} snapshot(s)")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
