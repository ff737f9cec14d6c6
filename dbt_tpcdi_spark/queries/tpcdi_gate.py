"""Driver-gate coverage of the TPC-DI ingest paths and DAG models.

The driver's CORRECTNESS gate only sees the TPC-H-ish parquet tables,
so the FINWIRE fixed-width parser (S2-S4), the CustomerMgmt XML
flattener (S5-S6), and the DAG-only join shapes (J3/J5/J9/A2 and the
bronze try-casts) previously passed only the pytest oracle. These
queries close that gap: each synthesizes the deterministic TPC-DI
fixtures in-session, runs the REAL ingest/DAG code, and pairs it with a
fully self-contained DuckDB oracle (fixture data embedded as typed
VALUES CTEs; model SQL from ``dbt_tpcdi_spark.tpcdi.oracle`` inlined as
chained CTEs in registry topo order) — no files, no pre-registered
views, order-independent of the Spark run.

Determinism: timestamps/dates are emitted as formatted strings and
nullable integer columns as varchar on BOTH sides (see
``queries.__init__`` rules; a nullable int becomes float64 in one
engine's pandas bridge and Int64 in the other).

Reference provenance: FINWIRE layouts ``tpcdi.py:434-535``, XML
flattener ``tpcdi.py:265-331``, model SQL ``models/**`` — see the
module docstrings of ``sources/finwire.py``, ``sources/xml.py``,
``plans/models/*`` for the line-level crosswalk.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import threading
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_tpcdi_spark.plans.registry import all_models
from dbt_tpcdi_spark.plans.runner import Runner, ancestors, read_model
from dbt_tpcdi_spark.plans.sources import load_dag_sources
from dbt_tpcdi_spark.queries import query
from dbt_tpcdi_spark.sources.finwire import LAYOUTS, parse_finwire, prefix_parse
from dbt_tpcdi_spark.sources.xml import XML_SCHEMA, flatten_customer_mgmt
from dbt_tpcdi_spark.tpcdi.fixtures import (
    action_xml_fragments,
    finwire_raw_lines,
    generate,
    logical_tables,
)
from dbt_tpcdi_spark.session import local_df
from dbt_tpcdi_spark.tpcdi.oracle import (
    FACT_MARKET_HISTORY_STRICT_SQL,
    ORACLE_MODELS,
)

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%g"

# ---------------------------------------------------------------------------
# SQL literal / VALUES rendering


def _sqllit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, float):
        return repr(v)  # shortest round-trip decimal → identical double
    return str(v)


def _duck_type(t: pa.DataType) -> str:
    if pa.types.is_int32(t):
        return "integer"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t):
        return "varchar"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_boolean(t):
        return "boolean"
    raise TypeError(f"no DuckDB mapping for arrow type {t}")


def _values_sql(rows: list, schema: pa.Schema) -> str:
    """Typed DuckDB relation literal: VALUES + explicit per-column casts
    (a bare VALUES list would infer NULL-column types as integer)."""
    names = ", ".join(f"v{i}" for i in range(len(schema.names)))
    typed = ", ".join(
        f'cast(v{i} AS {_duck_type(f.type)}) AS "{f.name}"'
        for i, f in enumerate(schema)
    )
    vals = ",\n".join(
        "(" + ", ".join(_sqllit(v) for v in row) + ")" for row in rows
    )
    return f"SELECT {typed} FROM (VALUES\n{vals}\n) t({names})"


# ---------------------------------------------------------------------------
# output normalization (same spec drives both engines; pinned by
# tests/test_tpcdi_gate.py against the actual Spark schema)


def _normalize_spark(df: DataFrame, int2str: tuple[str, ...]) -> DataFrame:
    cols = []
    for f in df.schema.fields:
        t = f.dataType.typeName()
        if t == "timestamp":
            cols.append(F.date_format(f.name, TS_FMT).alias(f.name))
        elif t == "date":
            cols.append(F.date_format(f.name, "yyyy-MM-dd").alias(f.name))
        elif f.name in int2str:
            cols.append(F.col(f.name).cast("string").alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _normalize_sql(
    relation: str,
    ts: tuple[str, ...],
    dates: tuple[str, ...],
    int2str: tuple[str, ...],
) -> str:
    repl = (
        [f"strftime(\"{c}\", '{TS_FMT_DUCK}') AS \"{c}\"" for c in ts]
        + [f"strftime(\"{c}\", '%Y-%m-%d') AS \"{c}\"" for c in dates]
        + [f'cast("{c}" AS varchar) AS "{c}"' for c in int2str]
    )
    if not repl:
        return f'SELECT * FROM "{relation}"'
    return f'SELECT * REPLACE ({", ".join(repl)}) FROM "{relation}"'


#: per-gate normalization spec: (timestamp cols, date cols, nullable-int
#: cols stringified). MUST mirror the Spark output schema — pinned by
#: tests/test_tpcdi_gate.py::test_norm_spec_matches_schema.
NORM_SPECS: dict[str, tuple[tuple[str, ...], tuple[str, ...], tuple[str, ...]]] = {
    "finwire_cmp": (("pts",), ("founding_date",), ()),
    "finwire_sec": (
        ("pts",), ("first_trade_date", "first_exchange_date"), ("cik",)),
    "finwire_fin": (
        ("pts",), ("quarter_start_date", "posting_date"), ("cik",)),
    "xml_customer_mgmt": (
        ("action_ts",), ("c_dob",), ("c_tier", "ca_id", "ca_tax_st", "ca_b_id")),
    "dag_dim_customer": (
        ("effective_timestamp", "end_timestamp"), ("dob",),
        ("credit_rating", "net_worth")),
    "dag_dim_account": (("effective_timestamp", "end_timestamp"), (), ()),
    "dag_fact_holdings": (("trade_timestamp",), ("sk_trade_date",), ()),
    "dag_fact_trade": (
        ("create_timestamp", "close_timestamp"),
        ("sk_create_date", "sk_close_date"), ()),
    "dag_watches": (("placed_timestamp", "removed_timestamp"), (), ()),
    "dag_incremental_equivalence": ((), (), ()),
    "dag_fact_market_history": (
        (),
        ("sk_date_id", "sk_fifty_two_week_high_date",
         "sk_fifty_two_week_low_date"), ()),
    "dag_fact_market_history_strict": (
        (),
        ("sk_date_id", "sk_fifty_two_week_high_date",
         "sk_fifty_two_week_low_date"), ()),
    "dag_trades_sql": (
        ("create_timestamp", "close_timestamp"), (), ()),
    "dag_dim_trade_sql": (
        ("effective_timestamp", "end_timestamp"), (), ()),
    "dag_fact_cash_balances_sql": ((), ("sk_transaction_date",), ()),
}


# ---------------------------------------------------------------------------
# oracle assembly


def _dag_oracle(
    target: str, final_sql: str | None = None, gate: str | None = None
) -> str:
    """Self-contained DuckDB twin of DAG model ``target``: fixture
    sources as typed VALUES CTEs, every ancestor model's oracle SQL
    inlined as a chained CTE (ORACLE_MODELS dict order is topological),
    then the shared normalization select. ``final_sql`` swaps the
    target's own CTE body (strict-parity twins); ``gate`` overrides
    the NORM_SPECS key."""
    models = all_models()
    closure = ancestors(models, [target])
    order = [n for n in ORACLE_MODELS if n in closure]
    srcs = sorted({s for n in order for s in models[n].sources})
    tabs = logical_tables()
    ctes = [f'"src_{s}" AS ({_values_sql(*tabs[s])})' for s in srcs]
    ctes += [
        f'"{n}" AS ({final_sql if (n == target and final_sql) else ORACLE_MODELS[n]})'
        for n in order
    ]
    gate = gate or f"dag_{target}"
    return ("WITH " + ",\n".join(ctes) + "\n"
            + _normalize_sql(target, *NORM_SPECS[gate]))


def _finwire_slice_sql(rec_type: str, raw_lines: list[str] | None = None
                       ) -> str:
    """Independent DuckDB rendering of the S3 fixed-width slice: 1-based
    substr windows from the layout (the reference's data contract,
    tpcdi.py:458-535), trim + blank→NULL + try-casts like the loader."""
    cols = ["try_strptime(substr(line, 1, 15), '%Y%m%d-%H%M%S') AS pts"]
    for f in LAYOUTS[rec_type]:
        e = f"nullif(trim(substr(line, {f.pos}, {f.length})), '')"
        if f.dtype == "date":
            e = f"cast(try_strptime({e}, '%Y%m%d') AS date)"
        elif f.dtype in ("int", "long"):
            e = f"try_cast({e} AS bigint)"
        elif f.dtype == "double":
            e = f"try_cast({e} AS double)"
        cols.append(f'{e} AS "{f.name}"')
    if raw_lines is None:
        raw_lines = finwire_raw_lines()
    lines = ",\n".join(f"({_sqllit(ln)})" for ln in raw_lines)
    return (
        f"SELECT {', '.join(cols)} FROM (VALUES\n{lines}\n) t(line)\n"
        f"WHERE substr(line, 16, 3) = '{rec_type}'"
    )


def _finwire_oracle(rec_type: str, bronze_model: str,
                    raw_lines: list[str] | None = None) -> str:
    gate = f"finwire_{rec_type.lower()}"
    return (
        f'WITH "src_{rec_type.lower()}" AS '
        f'({_finwire_slice_sql(rec_type, raw_lines)}),\n'
        f'"{bronze_model}" AS ({ORACLE_MODELS[bronze_model]})\n'
        + _normalize_sql(bronze_model, *NORM_SPECS[gate])
    )


def _xml_oracle() -> str:
    rows, schema = logical_tables()["customer_mgmt"]
    return (
        f'WITH "customer_mgmt" AS ({_values_sql(rows, schema)})\n'
        + _normalize_sql("customer_mgmt", *NORM_SPECS["xml_customer_mgmt"])
    )


# ---------------------------------------------------------------------------
# Spark-side fixture/warehouse management (memoized per process/session)

#: DAG models the driver gate materializes (ancestors pulled in
#: automatically; excludes the daily_market/fact_market_history chain —
#: covered by the full-DAG pytest oracle).
GATE_DAG_TARGETS = (
    "dim_customer", "dim_account", "fact_holdings", "fact_trade", "watches",
    "dim_trade", "fact_market_history", "fact_cash_balances",
)

_CACHE: dict = {}

#: Serializes every model build this module triggers against the
#: ``SPARK_TPCDI_PARITY`` env mutation in
#: ``dag_fact_market_history_strict``: the parity selector is read at
#: plan-construction time (plans/models/{silver,gold}.py), so a
#: concurrent DAG build (e.g. another gate query populating
#: ``_warehouse`` with parallelism=8) observing strict mode would
#: silently build strict-mode ancestors. Builders launched from a
#: single lock-held thread may still fan out internally — Runner's
#: thread pool is fine because the env var is stable for the whole
#: guarded region.
_PARITY_LOCK = threading.RLock()


def _fixture_root() -> Path:
    if "root" not in _CACHE:
        root = Path(tempfile.mkdtemp(prefix="tpcdi_gate_"))
        generate(root)
        _CACHE["root"] = root
    return _CACHE["root"]


def _warehouse(spark: SparkSession) -> Path:
    """Materialize the gate targets' DAG cone to parquet once per
    SparkSession (S9 sink + S11 DAG build exercised in-driver)."""
    key = ("warehouse", spark.sparkContext.applicationId)
    with _PARITY_LOCK:
        if key not in _CACHE:
            root = _fixture_root()
            wh = root / f"warehouse_{spark.sparkContext.applicationId}"
            sources = load_dag_sources(spark, str(root / "raw"))
            Runner(spark, sources, warehouse_dir=str(wh)).run(
                targets=list(GATE_DAG_TARGETS), parallelism=8
            )
            _CACHE[key] = wh
        return _CACHE[key]


def _dag_model(spark: SparkSession, target: str) -> DataFrame:
    df = spark.read.parquet(str(_warehouse(spark) / target))
    return _normalize_spark(df, NORM_SPECS[f"dag_{target}"][2])


def _finwire_parsed(spark: SparkSession, rec_type: str) -> DataFrame:
    lines = local_df(spark, 
        [(ln,) for ln in finwire_raw_lines()], "line string"
    )
    return parse_finwire(prefix_parse(lines), rec_type)


def _bronze(name: str, src_df: DataFrame) -> DataFrame:
    """Run a bronze builder over an in-memory source frame."""
    return all_models()[name].build(None, lambda _n: src_df)


# ---------------------------------------------------------------------------
# registered gate queries


@query("finwire_cmp", oracle=_finwire_oracle("CMP", "finwire_company"),
       tags=["S2", "S3", "S4"])
def finwire_cmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-S4: fixed-width CMP records through the real FINWIRE parser
    (prefix parse + demux + slice + loader casts); DuckDB re-slices the
    same raw lines independently."""
    df = _bronze("finwire_company", _finwire_parsed(spark, "CMP"))
    return _normalize_spark(df, NORM_SPECS["finwire_cmp"][2])


@query("finwire_sec", oracle=_finwire_oracle("SEC", "finwire_security"),
       tags=["S2", "S3", "S4", "F-casts"])
def finwire_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEC records + bronze try_to_number CIK-vs-name disambiguation
    (reference bronze/finwire/finwire_security.sql:1-18)."""
    df = _bronze("finwire_security", _finwire_parsed(spark, "SEC"))
    return _normalize_spark(df, NORM_SPECS["finwire_sec"][2])


@query("finwire_fin", oracle=_finwire_oracle("FIN", "finwire_financial"),
       tags=["S2", "S3", "S4", "F-casts"])
def finwire_fin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIN records + bronze numeric/date conversions
    (reference bronze/finwire/finwire_financial.sql:1-27)."""
    df = _bronze("finwire_financial", _finwire_parsed(spark, "FIN"))
    return _normalize_spark(df, NORM_SPECS["finwire_fin"][2])


@query("finwire_pyds", oracle=_finwire_oracle("CMP", "finwire_company"),
       tags=["S2", "S4", "custom-source"])
def finwire_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FINWIRE drop through the Spark 4 Python DataSource API
    (``sources/pyds.py``): a registered ``finwire`` format with
    partition-per-file planning replaces ``spark.read.text``, then the
    IDENTICAL prefix-parse/demux/bronze plan runs on top — so the gate
    proves the custom-source seam is a drop-in for the native scan.
    Same oracle as ``finwire_cmp`` (DuckDB re-slices the raw lines
    independently)."""
    from dbt_tpcdi_spark.sources.pyds import register_finwire_source

    register_finwire_source(spark)
    root = _fixture_root()
    lines = spark.read.format("finwire").load(
        str(root / "raw" / "FINWIRE2017Q1")
    )
    df = _bronze(
        "finwire_company", parse_finwire(prefix_parse(lines), "CMP")
    )
    return _normalize_spark(df, NORM_SPECS["finwire_cmp"][2])


def _all_batch_finwire_lines() -> list[str]:
    from dbt_tpcdi_spark.tpcdi.fixtures import (
        FINWIRE_SETS,
        FINWIRE_SETS2,
        FINWIRE_SETS3,
    )

    return (finwire_raw_lines(FINWIRE_SETS)
            + finwire_raw_lines(FINWIRE_SETS2)
            + finwire_raw_lines(FINWIRE_SETS3))


@query("finwire_pyds_stream",
       oracle=_finwire_oracle("CMP", "finwire_company",
                              _all_batch_finwire_lines()),
       tags=["S2", "S4", "custom-source", "§2.9-streaming"])
def finwire_pyds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource as a STREAM: the three quarterly
    FINWIRE drops (Batch1/2/3 fixtures) land in a watched directory and
    ``spark.readStream.format("finwire")`` tails it — one drop per
    micro-batch (the reader advances its checkpointable file-index
    offset by at most one file per trigger, and ``readBetweenOffsets``
    replays any committed range deterministically for exactly-once
    recovery). The identical prefix-parse/demux/bronze plan runs ON the
    stream; the oracle re-slices the union of all three drops' raw
    lines, so a dropped batch, a re-read file, or a demux difference
    hash-mismatches."""
    import json
    import shutil
    import tempfile
    import time
    import uuid

    from dbt_tpcdi_spark.sources.pyds import register_finwire_source

    register_finwire_source(spark)
    root = _fixture_root()
    stage = tempfile.mkdtemp(prefix="finwire_stream_")
    # per-run sink name: a fixed queryName would silently REPLACE the
    # previous run's memory table in the same session (and two
    # concurrent builds would race on it)
    sink = f"q_finwire_pyds_stream_{uuid.uuid4().hex[:8]}"
    try:
        for src in ("raw/FINWIRE2017Q1", "raw_batch2/FINWIRE2019Q1",
                    "raw_batch3/FINWIRE2019Q2"):
            shutil.copy(str(root / src), stage)
        lines = spark.readStream.format("finwire").load(
            f"{stage}/FINWIRE*")
        df = _bronze(
            "finwire_company", parse_finwire(prefix_parse(lines), "CMP")
        )
        out = _normalize_spark(df, NORM_SPECS["finwire_cmp"][2])
        # the one-file-per-trigger offset pacing is the point, so drive
        # with the default microbatch trigger (availableNow would fall
        # back to single-batch on a simple stream reader) and stop once
        # the committed end offset has walked all three drops
        q = (
            out.writeStream.outputMode("append").format("memory")
            .queryName(sink).start()
        )
        try:
            import ast

            deadline = time.time() + 120
            while time.time() < deadline:
                p = q.lastProgress
                eo = p["sources"][0]["endOffset"] if p else None
                if isinstance(eo, str):
                    try:
                        eo = json.loads(eo)
                    except ValueError:
                        eo = ast.literal_eval(eo)
                if isinstance(eo, dict) and eo.get("index") == 3:
                    break
                time.sleep(0.2)
            else:
                raise TimeoutError("stream never reached drop 3")
        finally:
            q.stop()
            q.awaitTermination()
        # the memory sink holds the rows; the staging files are no
        # longer referenced once the query has stopped
        return spark.table(sink)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@query("xml_customer_mgmt", oracle=_xml_oracle(),
       tags=["S5", "S6", "F-string"])
def xml_customer_mgmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5-S6: CustomerMgmt Action elements parsed with the explicit
    nested schema + flattened (attr access, phone concat with NULL
    propagation — reference tpcdi.py:174-186,265-331); oracle is the
    independently-rendered logical table."""
    frags = local_df(spark, 
        [(s,) for s in action_xml_fragments()], "xml string"
    )
    parsed = frags.select(
        F.from_xml("xml", XML_SCHEMA, {"attributePrefix": "_"}).alias("r")
    ).select("r.*")
    df = flatten_customer_mgmt(parsed)
    return _normalize_spark(df, NORM_SPECS["xml_customer_mgmt"][2])


@query("dag_dim_customer", oracle=_dag_oracle("dim_customer"),
       tags=["J5", "W1", "W2", "W7", "S9", "S11"])
def dag_dim_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (5-column natural left join to prospect,
    gold/dim_customer.sql:6-8) + SCD2 + 21-column IGNORE-NULLS forward
    fill, materialized through the DAG runner."""
    return _dag_model(spark, "dim_customer")


@query("dag_dim_account", oracle=_dag_oracle("dim_account"),
       tags=["J3", "J6", "S9", "S11"])
def dag_dim_account(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (USING natural join, gold/dim_account.sql:18-20) + temporal
    BETWEEN join to the customer dimension."""
    return _dag_model(spark, "dim_account")


@query("dag_fact_holdings", oracle=_dag_oracle("fact_holdings"),
       tags=["J9", "S9", "S11"])
def dag_fact_holdings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 (same dim joined twice by role — current/previous trade,
    gold/fact_holdings.sql:20-23)."""
    return _dag_model(spark, "fact_holdings")


@query("dag_fact_trade", oracle=_dag_oracle("fact_trade"),
       tags=["J6", "S9", "S11"])
def dag_fact_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end: 3 temporal BETWEEN joins over SCD2 dims
    (gold/fact_trade.sql) from raw fixtures through the full DAG."""
    return _dag_model(spark, "fact_trade")


@query("dag_fact_trade_decimal",
       oracle=_dag_oracle("fact_trade", gate="dag_fact_trade"),
       tags=["J6", "S9", "S11", "F-cast"])
def dag_fact_trade_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-money parity twin (VERDICT r10 item 3): the ENTIRE
    fact_trade cone rebuilt with ``SPARK_TPCDI_MONEY=decimal`` — money
    scans as DecimalType(15,2) and flows through SCD2, temporal joins,
    and the gold projection as exact cents — then cast back to double
    and compared against the SAME oracle as ``dag_fact_trade``. Proves
    the DAG is money-type-agnostic: the 100 TB deployment can flip the
    mode for drift-free SUMs without touching a model. The cone is
    built into a parquet warehouse under the fixture root, so the gate
    checks the decimal table as stored; the build runs under the
    selector (the ``SPARK_TPCDI_PARITY`` pattern)."""
    from pyspark.sql import types as T

    with _PARITY_LOCK:
        prev = os.environ.get("SPARK_TPCDI_MONEY")
        os.environ["SPARK_TPCDI_MONEY"] = "decimal"
        try:
            root = _fixture_root()
            sources = load_dag_sources(spark, str(root / "raw"))
            wh = root / f"wh_decimal_{spark.sparkContext.applicationId}"
            df = Runner(spark, sources, warehouse_dir=str(wh)).run(
                targets=["fact_trade"], parallelism=8
            )["fact_trade"]
        finally:
            if prev is None:
                os.environ.pop("SPARK_TPCDI_MONEY", None)
            else:
                os.environ["SPARK_TPCDI_MONEY"] = prev
    dec_cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, T.DecimalType)
    ]
    assert dec_cols, "decimal mode produced no decimal columns"
    df = df.select([
        F.col(c).cast("double").alias(c) if c in dec_cols else F.col(c)
        for c in df.columns
    ])
    return _normalize_spark(df, NORM_SPECS["dag_fact_trade"][2])


@query("dag_watches", oracle=_dag_oracle("watches"),
       tags=["A2", "S9", "S11"])
def dag_watches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (min/max collapse of placed/removed events,
    silver/watches.sql:22-34)."""
    return _dag_model(spark, "watches")


@query("dag_fact_market_history",
       oracle=_dag_oracle("fact_market_history"),
       tags=["J6", "S9", "S11"])
def dag_fact_market_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORRECTED default fact_market_history (no quarterly
    fan-out): temporal security join where a DATE meets TIMESTAMP
    bounds (gold/fact_market_history.sql minus the row-multiplying
    LEFT JOIN — SCALE.md §2), through the DAG runner. Paired with
    ``dag_fact_market_history_strict`` so BOTH truths sit in the
    driver gate, not just pytest."""
    return _dag_model(spark, "fact_market_history")


@query("dag_fact_market_history_strict",
       oracle=_dag_oracle(
           "fact_market_history",
           final_sql=FACT_MARKET_HISTORY_STRICT_SQL,
           gate="dag_fact_market_history_strict"),
       tags=["J6", "S9", "S11"])
def dag_fact_market_history_strict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Byte-faithful reference parity for fact_market_history: the
    row-multiplying ``LEFT JOIN USING (sk_company_id)`` to the
    quarterly work model (reference models/gold/fact_market_history
    .sql:19-20) — built under ``SPARK_TPCDI_PARITY=strict`` against
    the SAME default-mode ancestors the corrected query reads, paired
    with ``tpcdi/oracle.FACT_MARKET_HISTORY_STRICT_SQL``. With both
    queries in the gate, the corrected/strict divergence is a measured
    choice every round rather than a documented one."""
    wh = _warehouse(spark)
    refs = {
        n: spark.read.parquet(str(wh / n))
        for n in ("daily_market", "dim_security", "wrk_company_financials")
    }
    # _PARITY_LOCK: no other in-module DAG build may construct plans
    # while the process-global parity selector is flipped (see the
    # lock's docstring); plan construction is eager, so the env var is
    # only needed for the build() call itself
    with _PARITY_LOCK:
        prev = os.environ.get("SPARK_TPCDI_PARITY")
        os.environ["SPARK_TPCDI_PARITY"] = "strict"
        try:
            df = all_models()["fact_market_history"].build(
                lambda n: refs[n], None
            )
        finally:
            if prev is None:
                os.environ.pop("SPARK_TPCDI_PARITY", None)
            else:
                os.environ["SPARK_TPCDI_PARITY"] = prev
    return _normalize_spark(
        df, NORM_SPECS["dag_fact_market_history_strict"][2]
    )


# ---------------------------------------------------------------------------
# Batch2 incremental-load equivalence (the Batch2/3 path the reference
# defers, reference README.md:53-55)

# one implementation shared with the CLI's --batches path (r12,
# VERDICT r11 item 5) — the gates verify exactly the code users run
from dbt_tpcdi_spark.plans.batches import (  # noqa: E402
    SCD2_MERGE_ORDER,
    combine_batch as _combine_batch,
    merge_batch,
    rebuild_stale,
    stale_after_batch,
)


def _incremental_vs_rebuild(spark: SparkSession) -> list[tuple[str, bool]]:
    """Build the SCD2 cone twice — full rebuild over Batch1+2+3 vs
    a versioned Batch1 build + TWO successive ``merge_batch`` rounds
    (Batch2 then Batch3, proving merges compose on an already-merged
    warehouse) — and EXCEPT-ALL compare each model. The batches' CDC
    DELETE feed is deliberately NOT applied on either side here (pure
    upsert-merge equivalence: the batch dict drops ``trade_deletes``);
    ``_incremental_deletes`` covers the delete-aware replay. Memoized
    per SparkSession."""
    key = ("incremental", spark.sparkContext.applicationId)
    if key in _CACHE:
        return _CACHE[key]
    with _PARITY_LOCK:
        return _incremental_vs_rebuild_locked(spark, key)


def _incremental_vs_rebuild_locked(
    spark: SparkSession, key: tuple
) -> list[tuple[str, bool]]:
    if key in _CACHE:  # raced another thread to the lock
        return _CACHE[key]
    root = _fixture_root()
    b1 = load_dag_sources(spark, str(root / "raw"))
    b2 = load_dag_sources(spark, str(root / "raw_batch2"))
    b3 = load_dag_sources(spark, str(root / "raw_batch3"))
    cum2 = _combine_batch(b1, b2)
    cum3 = _combine_batch(cum2, b3)

    targets = list(SCD2_MERGE_ORDER)
    wh_full = root / f"wh_full_{spark.sparkContext.applicationId}"
    Runner(spark, cum3, warehouse_dir=str(wh_full)).run(
        targets, parallelism=8)

    wh_inc = root / f"wh_inc_{spark.sparkContext.applicationId}"
    inc = Runner(spark, b1, warehouse_dir=str(wh_inc),
                 materialize="versioned")
    inc.run(targets, parallelism=8)

    for batch, cumulative in ((b2, cum2), (b3, cum3)):
        upserts = {k: v for k, v in batch.items() if k != "trade_deletes"}
        assert merge_batch(inc, upserts, cumulative) == targets

    results = []
    for name in SCD2_MERGE_ORDER:
        merged = inc.read_model(name)
        rebuilt = spark.read.parquet(str(wh_full / name))
        equal = (merged.exceptAll(rebuilt).isEmpty()
                 and rebuilt.exceptAll(merged).isEmpty())
        results.append((name, equal))
    _CACHE[key] = results
    return results


from dbt_tpcdi_spark.plans.validators import STANDARD_CHECKS, run_checks


@query(
    "warehouse_validation",
    oracle="SELECT * FROM (VALUES " + ", ".join(
        f"('{c.name}', 0)" for c in sorted(STANDARD_CHECKS,
                                           key=lambda c: c.name)
    ) + ") t(check_name, violations)",
    tags=["§3.3-dbt-test", "A3"],
)
def warehouse_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-test surface (reference §3.3: one singular test + dbt's
    generic machinery): the standard unique / not_null / relationships
    / accepted_values suite over the fixture-built warehouse. The
    oracle pins every violation count to zero."""
    wh = _warehouse(spark)

    def resolve(name: str) -> DataFrame:
        return spark.read.parquet(str(wh / name))

    rows = [(n, v) for n, v in run_checks(resolve)]
    return local_df(spark, 
        rows, "check_name string, violations int"
    ).withColumn("violations", F.col("violations").cast("int"))


def _incremental_deletes(spark: SparkSession) -> list[tuple[str, bool]]:
    """Delete-aware Batch2/3 replay: versioned Batch1 build + two
    ``merge_batch`` rounds where each batch's CDC DELETE feed
    (TradeDeletes.txt, fixtures.TRADE_DELETES2/3) purges trades
    alongside the upsert merge. Ground truth replays the FULL history: a from-scratch
    rebuild over Batch1+2+3 with the purged keys' rows removed from
    the rebuilt table. Also asserts the purge was non-vacuous (the
    keys existed in the rebuild and are gone after). Memoized per
    SparkSession."""
    key = ("incremental_deletes", spark.sparkContext.applicationId)
    if key in _CACHE:
        return _CACHE[key]
    with _PARITY_LOCK:
        if key in _CACHE:  # raced another thread to the lock
            return _CACHE[key]
        # reuse the memoized full Batch1+2+3 rebuild warehouse
        _incremental_vs_rebuild(spark)
        root = _fixture_root()
        b1 = load_dag_sources(spark, str(root / "raw"))
        b2 = load_dag_sources(spark, str(root / "raw_batch2"))
        b3 = load_dag_sources(spark, str(root / "raw_batch3"))
        cum2 = _combine_batch(b1, b2)
        cum3 = _combine_batch(cum2, b3)
        wh_full = root / f"wh_full_{spark.sparkContext.applicationId}"
        wh_del = root / f"wh_del_{spark.sparkContext.applicationId}"

        targets = list(SCD2_MERGE_ORDER)
        inc = Runner(spark, b1, warehouse_dir=str(wh_del),
                     materialize="versioned")
        inc.run(targets, parallelism=8)
        for batch, cumulative in ((b2, cum2), (b3, cum3)):
            assert "trade_deletes" in batch
            assert merge_batch(inc, batch, cumulative) == targets

        del_ids = (
            b2["trade_deletes"].unionByName(b3["trade_deletes"])
            .select(F.col("td_t_id").alias("trade_id"))
        )
        checks: list[tuple[str, bool]] = []
        for name in SCD2_MERGE_ORDER:
            merged = inc.read_model(name)
            expected = spark.read.parquet(str(wh_full / name))
            if name == "trades_history":
                expected = expected.join(del_ids, "trade_id", "left_anti")
            equal = (merged.exceptAll(expected).isEmpty()
                     and expected.exceptAll(merged).isEmpty())
            checks.append((name, equal))
        full_th = spark.read.parquet(str(wh_full / "trades_history"))
        n_deletes = del_ids.count()
        checks.append((
            "trade_deletes_present_in_rebuild",
            full_th.join(del_ids, "trade_id", "left_semi")
            .select("trade_id").distinct().count() == n_deletes
            and n_deletes > 0,
        ))
        checks.append((
            "trade_deletes_absent_after",
            inc.read_model("trades_history")
            .join(del_ids, "trade_id", "left_semi").isEmpty(),
        ))
        _CACHE[key] = checks
        return checks


@query(
    "dag_incremental_deletes",
    oracle="SELECT * FROM (VALUES " + ", ".join(
        f"('{n}', true)" for n in sorted(
            (*SCD2_MERGE_ORDER, "trade_deletes_present_in_rebuild",
             "trade_deletes_absent_after"))
    ) + ") t(check_name, ok)",
    tags=["S9", "S11", "W1", "W2"],
)
def dag_incremental_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC DELETE semantics for the Batch2/3 incremental path (TPC-DI
    cancellation rows, which the reference defers with the rest of
    Batch2/3 — reference README.md:53-55): merge_refresh with each
    batch's delete feed must equal the full-history rebuild minus the
    purged keys, composed across two rounds (Batch2 purges trade 9003,
    Batch3 purges 9001), and the purges must be provably non-vacuous.
    One boolean row per check; the oracle pins them all true."""
    rows = _incremental_deletes(spark)
    return local_df(spark, rows, "check_name string, ok boolean")


@query(
    "dag_incremental_equivalence",
    oracle="SELECT * FROM (VALUES " + ", ".join(
        f"('{n}', true)" for n in sorted(SCD2_MERGE_ORDER)
    ) + ") t(model, incremental_equals_rebuild)",
    tags=["S9", "S11", "W1", "W2"],
)
def dag_incremental_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch2+Batch3 row-level incremental load: two successive
    per-SCD2-model merge_refresh rounds over the fixture deltas must
    equal a from-scratch rebuild over Batch1+2+3 (EXCEPT-ALL, both
    directions) — including Batch3 rewriting a trade Batch2 introduced.
    Emits one boolean row per model; the oracle pins them all true — a
    false value hash-mismatches and fails the gate."""
    rows = _incremental_vs_rebuild(spark)
    return local_df(spark, 
        rows, "model string, incremental_equals_rebuild boolean"
    )


# ---------------------------------------------------------------------------
# one-command multi-batch build (VERDICT r11 item 5): the CLI's
# --batches path, gated end to end against a from-scratch rebuild


def _batches_cli_checks(spark: SparkSession) -> list[tuple[str, bool]]:
    """Drive the ACTUAL user command (``python -m dbt_tpcdi_spark
    build --batches 1,2,3``, versioned because it lists later
    batches) over the fixture tree, then
    prove the landed warehouse equals a from-scratch Batch1+2+3
    rebuild: every one of the 45 model tables row-for-row (EXCEPT-ALL
    both directions), with the CDC-deleted trades removed from the
    ground truth's trade feeds (the two bronze passthroughs compare
    against the verbatim cumulative feeds — raw landings keep what the
    files said; deletes are warehouse semantics and apply from
    trades_history down). Also pins one manifest commit per batch.
    Memoized per SparkSession."""
    key = ("batches_cli", spark.sparkContext.applicationId)
    if key in _CACHE:
        return _CACHE[key]
    with _PARITY_LOCK:
        if key in _CACHE:  # raced another thread to the lock
            return _CACHE[key]
        from dbt_tpcdi_spark.__main__ import main as cli_main
        from dbt_tpcdi_spark.plans.batches import bronze, combine_batch
        from dbt_tpcdi_spark.plans.runner import MANIFEST_TABLE
        from dbt_tpcdi_spark.plans.versioned import VersionedTable

        root = _fixture_root()
        app = spark.sparkContext.applicationId
        wh_cli = root / f"wh_cli_{app}"
        rc = cli_main([
            "build", "--raw-dir", str(root / "raw"),
            "--warehouse", str(wh_cli), "--batches", "1,2,3",
            "--parallelism", "8",
        ])
        checks: list[tuple[str, bool]] = [("cli_exit_zero", rc == 0)]

        b1 = load_dag_sources(spark, str(root / "raw"))
        b2 = load_dag_sources(spark, str(root / "raw_batch2"))
        b3 = load_dag_sources(spark, str(root / "raw_batch3"))
        cum3 = combine_batch(combine_batch(b1, b2), b3)
        del_ids = (
            b2["trade_deletes"].unionByName(b3["trade_deletes"])
            .select("td_t_id").distinct()
        )
        truth = dict(cum3)
        truth["trade"] = cum3["trade"].join(
            del_ids.withColumnRenamed("td_t_id", "t_id"),
            "t_id", "left_anti")
        truth["trade_history"] = cum3["trade_history"].join(
            del_ids.withColumnRenamed("td_t_id", "th_t_id"),
            "th_t_id", "left_anti")
        wh_truth = root / f"wh_cli_truth_{app}"
        Runner(spark, truth, warehouse_dir=str(wh_truth)).run(
            parallelism=8)

        for name in sorted(all_models()):
            got = VersionedTable(spark, str(wh_cli / name)).read()
            if name == "brokerage_trade":
                want = bronze(name, cum3["trade"])
            elif name == "brokerage_trade_history":
                want = bronze(name, cum3["trade_history"])
            else:
                want = spark.read.parquet(str(wh_truth / name))
            equal = (got.exceptAll(want).isEmpty()
                     and want.exceptAll(got).isEmpty())
            checks.append((name, equal))
        mt = VersionedTable(spark, str(wh_cli / MANIFEST_TABLE))
        checks.append((
            "manifest_per_batch", (mt.latest_version() or 0) >= 2))
        _CACHE[key] = checks
        return checks


@query(
    "dag_batches_cli",
    oracle="SELECT * FROM (VALUES " + ", ".join(
        f"('{n}', true)" for n in sorted(
            (*all_models(), "cli_exit_zero", "manifest_per_batch"))
    ) + ") t(check_name, ok)",
    tags=["S9", "S11", "W1", "W2", "§3-cli"],
)
def dag_batches_cli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-command Batch1+2+3 load (VERDICT r11 item 5): ``build
    --batches 1,2,3`` lands Batch2 then Batch3 on versioned tables via
    row-level SCD2 merge (partition-pruned where declared) + CDC
    deletes, rebuilds only the stale downstream cone reading merged
    upstreams from the warehouse, and commits one manifest per batch.
    The gate runs the real CLI entrypoint and pins every model table
    equal to a from-scratch 1+2+3 rebuild (deleted trades removed
    from the ground-truth feeds), one boolean row per check."""
    rows = _batches_cli_checks(spark)
    return local_df(spark, rows, "check_name string, ok boolean")


# ---------------------------------------------------------------------------
# versioned-warehouse data skipping on the DAG path (VERDICT r8 item 1)

#: check names emitted by dag_versioned_skipping, pinned true by its
#: oracle.
VSKIP_CHECKS = (
    "commit_has_stats",
    "commit_has_bloom",
    "multiple_files",
    "date_window_pruned",
    "date_window_exact",
    "point_read_pruned",
    "point_read_exact",
    "absent_key_reads_zero_files",
    "rows_equal_plain_build",
)


def _versioned_skipping_checks(spark: SparkSession) -> list[tuple[str, bool]]:
    """Build the fact_trade cone with ``materialize="versioned"`` so
    the model's declared ``Layout`` (range-cluster on sk_create_date,
    footer stats on the date keys, Bloom bitmaps on sk_account_id /
    sk_trade_id — plans/models/gold.py) lands in the commit entry,
    then prove the skipping works END TO END on the DAG table: a
    date-window read and a point read must each touch FEWER files than
    the snapshot holds while returning exactly the full-scan-filter
    rows, an absent key must read zero files, and the laid-out build
    must equal the plain parquet build row-for-row (the layout shuffle
    reorders, never rewrites). This is the engine's analog of the
    micro-partition pruning the reference's dynamic tables get from
    Snowflake for free (reference dbt_project.yml:33-47). Memoized per
    SparkSession."""
    key = ("vskip", spark.sparkContext.applicationId)
    if key in _CACHE:
        return _CACHE[key]
    with _PARITY_LOCK:
        if key in _CACHE:  # raced another thread to the lock
            return _CACHE[key]
        root = _fixture_root()
        wh = root / f"wh_vskip_{spark.sparkContext.applicationId}"
        sources = load_dag_sources(spark, str(root / "raw"))
        r = Runner(spark, sources, warehouse_dir=str(wh),
                   materialize="versioned")
        # At fixture scale AQE correctly coalesces the layout's range
        # shuffle to ONE partition (6 fact_trade rows are one file of
        # data) — which would make "pruned" unobservable. Disable
        # partition coalescing for this build only, so the file count
        # reflects what the same declared layout produces at scale
        # (session-wide conf, hence inside _PARITY_LOCK like the
        # parity env mutation; restored in finally).
        coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(coalesce_key, None)
        spark.conf.set(coalesce_key, "false")
        try:
            r.run(targets=["fact_trade"], parallelism=8)
        finally:
            if prev is None:
                spark.conf.unset(coalesce_key)
            else:
                spark.conf.set(coalesce_key, prev)
        t = r.table("fact_trade")
        entry = t._entry(t.latest_version())
        full = t.read()
        checks: list[tuple[str, bool]] = [
            ("commit_has_stats", bool(entry.get("stats"))),
            ("commit_has_bloom", bool(entry.get("bloom"))),
            ("multiple_files", len(entry.get("stats") or {}) > 1),
        ]
        dates = sorted(
            r0["sk_create_date"]
            for r0 in full.select("sk_create_date").distinct().collect()
        )
        mid = dates[len(dates) // 2]
        got, rep = t.read_where("sk_create_date", lo=mid, hi=mid)
        checks.append(
            ("date_window_pruned",
             rep["files_read"] < rep["files_total"]))
        exp = full.filter(F.col("sk_create_date") == F.lit(mid))
        checks.append(
            ("date_window_exact",
             got.exceptAll(exp).isEmpty()
             and exp.exceptAll(got).isEmpty()))
        probe = full.select("sk_trade_id").orderBy(
            "sk_trade_id").first()["sk_trade_id"]
        gpt, rpt = t.read_where_eq("sk_trade_id", probe)
        checks.append(
            ("point_read_pruned",
             rpt["files_read"] < rpt["files_total"]))
        expp = full.filter(F.col("sk_trade_id") == probe)
        checks.append(
            ("point_read_exact",
             gpt.exceptAll(expp).isEmpty()
             and expp.exceptAll(gpt).isEmpty()))
        ab, rab = t.read_where_eq("sk_trade_id", "no-such-key")
        checks.append(
            ("absent_key_reads_zero_files",
             rab["files_read"] == 0 and ab.isEmpty()))
        plain = spark.read.parquet(str(_warehouse(spark) / "fact_trade"))
        checks.append(
            ("rows_equal_plain_build",
             full.exceptAll(plain).isEmpty()
             and plain.exceptAll(full).isEmpty()))
        assert sorted(n for n, _ in checks) == sorted(VSKIP_CHECKS)
        _CACHE[key] = checks
        return checks


@query(
    "dag_versioned_skipping",
    oracle="SELECT * FROM (VALUES " + ", ".join(
        f"('{n}', true)" for n in sorted(VSKIP_CHECKS)
    ) + ") t(check_name, ok)",
    tags=["S11", "storage-skipping"],
)
def dag_versioned_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping wired into the warehouse DAG (VERDICT r8 item 1):
    fact_trade built through ``Runner(materialize="versioned")`` with
    its declared per-model Layout must be range-clustered, carry
    footer stats + Bloom bitmaps in its commit entry, and serve pruned
    date-window and point reads that match the full scan exactly. One
    boolean row per check; the oracle pins them all true."""
    rows = _versioned_skipping_checks(spark)
    return local_df(spark, rows, "check_name string, ok boolean")


# ---------------------------------------------------------------------------
# SQL-authored DAG models (VERDICT r9 item 7): the reference authors
# every model as SQL text; these gates author real models as SPARK SQL
# strings (through the functions/*_spark_sql helpers) over the same
# warehouse upstreams and gate them against the SAME DAG oracles as
# the DataFrame builds — proving the SQL surface end-to-end on
# reference-shaped models, not just the sql_frontend demo.

from dbt_tpcdi_spark.functions.keys import surrogate_key_spark_sql

#: model name → (Spark SQL text, upstream models registered as views).
#: Each string is the reference model re-authored in Spark SQL
#: (reference: models/silver/trades.sql, models/gold/dim_trade.sql,
#: models/gold/fact_cash_balances.sql:5-13).
SPARK_SQL_MODELS: dict[str, tuple[str, tuple[str, ...]]] = {
    "trades": ("""
        SELECT DISTINCT
            trade_id, account_id, trade_status, trade_type,
            transaction_type, symbol, executor_name, quantity,
            bid_price, trade_price, fee, commission, tax,
            min(effective_timestamp) OVER (PARTITION BY trade_id)
                AS create_timestamp,
            max(effective_timestamp) OVER (PARTITION BY trade_id)
                AS close_timestamp
        FROM trades_history
    """, ("trades_history",)),
    "dim_trade": (f"""
        SELECT
            {surrogate_key_spark_sql('trade_id', 'effective_timestamp')}
                AS sk_trade_id,
            trade_id,
            trade_status AS status,
            transaction_type,
            trade_type AS type,
            executor_name AS executed_by,
            effective_timestamp,
            end_timestamp,
            is_current
        FROM trades_history
    """, ("trades_history",)),
    "fact_cash_balances": ("""
        SELECT sk_customer_id, sk_account_id, sk_transaction_date,
               sum(amount) AS amount, description
        FROM fact_cash_transactions
        GROUP BY sk_customer_id, sk_account_id, sk_transaction_date,
                 description
    """, ("fact_cash_transactions",)),
}


def _sql_authored_model(
    spark: SparkSession, target: str, gate: str
) -> DataFrame:
    """Run a SQL-authored model over the shared gate warehouse: the
    upstream models register as temp views (the ref() surface a SQL
    author sees), the model executes as ``spark.sql(text)``, and the
    output flows through the same normalization as the DataFrame
    gates."""
    wh = _warehouse(spark)
    sql_text, upstreams = SPARK_SQL_MODELS[target]
    with _PARITY_LOCK:  # temp-view registration is session-global
        for u in upstreams:
            spark.read.parquet(str(wh / u)).createOrReplaceTempView(u)
        df = spark.sql(sql_text)
    return _normalize_spark(df, NORM_SPECS[gate][2])


@query(
    "dag_trades_sql",
    oracle=_dag_oracle("trades", gate="dag_trades_sql"),
    tags=["§2.9-sql-frontend", "W5", "A4", "S11"],
)
def dag_trades_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """silver/trades re-authored as Spark SQL text (unbounded
    min/max window + DISTINCT — W5/A4) and gated against the SAME
    chained-CTE oracle as the DataFrame build."""
    return _sql_authored_model(spark, "trades", "dag_trades_sql")


@query(
    "dag_dim_trade_sql",
    oracle=_dag_oracle("dim_trade", gate="dag_dim_trade_sql"),
    tags=["§2.9-sql-frontend", "§2.8-hash-key", "S11"],
)
def dag_dim_trade_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold/dim_trade re-authored as Spark SQL text — the surrogate
    key comes from ``surrogate_key_spark_sql`` (the SQL-dialect twin
    of the dbt_utils-exact Column builder), so key hashes match the
    DataFrame build byte-for-byte."""
    return _sql_authored_model(spark, "dim_trade", "dag_dim_trade_sql")


@query(
    "dag_fact_cash_balances_sql",
    oracle=_dag_oracle("fact_cash_balances",
                       gate="dag_fact_cash_balances_sql"),
    tags=["§2.9-sql-frontend", "A1", "S11"],
)
def dag_fact_cash_balances_sql(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """gold/fact_cash_balances re-authored as Spark SQL text (the
    reference's GROUP BY ALL daily balance, models/gold/
    fact_cash_balances.sql:5-13) over the warehouse-built
    fact_cash_transactions."""
    return _sql_authored_model(
        spark, "fact_cash_balances", "dag_fact_cash_balances_sql")


# ---------------------------------------------------------------------------
# run-level warehouse snapshot manifest (VERDICT r9 item 4)

#: check names emitted by dag_warehouse_manifest, pinned true by its
#: oracle.
MANIFEST_CHECKS = (
    "manifest_two_versions",
    "manifest_covers_cone",
    "pinned_read_unchanged",
    "pinned_pair_consistent",
    "refresh_nonvacuous",
    "torn_pair_dangles",
    "latest_pair_consistent",
)


def _manifest_checks(spark: SparkSession) -> list[tuple[str, bool]]:
    """Exercise the torn-read hazard the manifest closes: build the
    fact_trade cone versioned (manifest v0 lands with the run), then a
    'concurrent' Batch1+2 refresh commits every model table-by-table
    (manifest v1). A reader pinned at manifest v0 must see the OLD
    fact/dim pair bit-identical and referentially closed, while the
    unpinned mix (fact_trade@latest against dim_trade@v0-pin) provably
    dangles — the tear pinning exists to prevent. Memoized per
    session."""
    key = ("manifest", spark.sparkContext.applicationId)
    if key in _CACHE:
        return _CACHE[key]
    with _PARITY_LOCK:
        if key in _CACHE:
            return _CACHE[key]
        from dbt_tpcdi_spark.plans.runner import MANIFEST_TABLE
        from dbt_tpcdi_spark.plans.versioned import VersionedTable

        root = _fixture_root()
        b1 = load_dag_sources(spark, str(root / "raw"))
        b2 = load_dag_sources(spark, str(root / "raw_batch2"))
        wh = root / f"wh_manifest_{spark.sparkContext.applicationId}"
        r1 = Runner(spark, b1, warehouse_dir=str(wh),
                    materialize="versioned")
        built = r1.run(targets=["fact_trade"], parallelism=8)
        cone = set(built)
        mt = VersionedTable(spark, str(wh / MANIFEST_TABLE))
        m0 = mt.latest_version()
        pin0 = r1.read_warehouse(m0)
        ft0 = pin0["fact_trade"].localCheckpoint(eager=True)
        dangling0 = (
            pin0["fact_trade"]
            .join(pin0["dim_trade"].select("sk_trade_id"),
                  "sk_trade_id", "left_anti").count()
        )

        # the refresh: a full Batch1+2 run commits new versions for
        # every model in the cone, one table at a time, then manifest
        # v1 — exactly the window during which an unpinned reader can
        # tear
        cum2 = _combine_batch(b1, b2)
        r2 = Runner(spark, cum2, warehouse_dir=str(wh),
                    materialize="versioned")
        r2.run(targets=["fact_trade"], parallelism=1)
        m1 = mt.latest_version()

        pin0_after = r2.read_warehouse(m0)
        ft_latest = r2.table("fact_trade").read()
        dt_latest = r2.table("dim_trade").read()
        checks = [
            ("manifest_two_versions", m0 == 0 and m1 == 1),
            ("manifest_covers_cone",
             {r["model"] for r in mt.read(m0).collect()} == cone),
            ("pinned_read_unchanged",
             pin0_after["fact_trade"].exceptAll(ft0).isEmpty()
             and ft0.exceptAll(pin0_after["fact_trade"]).isEmpty()),
            ("pinned_pair_consistent", dangling0 == 0 and (
                pin0_after["fact_trade"]
                .join(pin0_after["dim_trade"].select("sk_trade_id"),
                      "sk_trade_id", "left_anti").isEmpty())),
            ("refresh_nonvacuous",
             not ft_latest.exceptAll(ft0).isEmpty()),
            ("torn_pair_dangles", not (
                ft_latest
                .join(pin0_after["dim_trade"].select("sk_trade_id"),
                      "sk_trade_id", "left_anti").isEmpty())),
            ("latest_pair_consistent",
             ft_latest.join(dt_latest.select("sk_trade_id"),
                            "sk_trade_id", "left_anti").isEmpty()),
        ]
        _CACHE[key] = checks
        return checks


@query(
    "dag_warehouse_manifest",
    oracle="SELECT * FROM (VALUES " + ", ".join(
        f"('{n}', true)" for n in sorted(MANIFEST_CHECKS)
    ) + ") t(check_name, ok)",
    tags=["S11", "S9", "§2.9-storage"],
)
def dag_warehouse_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-level consistent warehouse snapshots: ``Runner`` commits a
    ``{model: version}`` manifest after every versioned run/refresh
    cycle, and ``read_warehouse(manifest_version)`` pins a
    cross-table view in which no fact/dim pair can tear — verified by
    landing a full Batch2 refresh between a pin and its reads, and by
    showing the UNPINNED mix does dangle. One boolean row per check;
    the oracle pins them all true."""
    rows = _manifest_checks(spark)
    return local_df(spark, rows, "check_name string, ok boolean")


# ---------------------------------------------------------------------------
# TPC-DI audit-style batch validation (VERDICT r9 item 6; public spec
# §7.4 shapes — batch row counts, referential integrity, SCD2
# invariants; the reference defers audit entirely, README.md:55)

#: the six silver SCD2 models (operators/scd2.py docstring)
AUDIT_SCD2 = ("accounts", "customers", "companies", "securities",
              "financials", "trades_history")
AUDIT_TARGETS = ("fact_trade", "fact_cash_transactions", "fact_watches",
                 "fact_holdings", "financials")


def _audit_state(
    spark: SparkSession, wh, sources: dict, deletes: DataFrame | None
):
    """Build one per-batch warehouse state: versioned run over the
    batch's cumulative sources, then (Batch2+) the CDC delete feed
    landed as a delete-only batch — ``merge_batch`` purges
    trades_history, ``rebuild_stale`` rebuilds the built models
    downstream of it — so the audited facts include the purge."""
    r = Runner(spark, sources, warehouse_dir=str(wh),
               materialize="versioned")
    built = r.run(targets=list(AUDIT_TARGETS), parallelism=8)
    if deletes is not None:
        batch = {"trade_deletes": deletes}
        merge_batch(r, batch, sources)
        rebuild_stale(
            r, [n for n in stale_after_batch(batch)[1] if n in built])
    return r


def _rowcount_checks(
    spark: SparkSession, tag: str, wh, sources: dict,
    deleted: DataFrame | None,
) -> list[tuple[str, int]]:
    """§7.4 batch row counts: loaded warehouse rows vs the batch's
    cumulative source feeds (minus CDC-purged keys)."""
    surviving = sources["trade"].select("t_id").distinct()
    hist = sources["trade_history"]
    if deleted is not None:
        surviving = surviving.join(
            deleted.select(F.col("td_t_id").alias("t_id")),
            "t_id", "left_anti")
        hist = hist.join(
            deleted.select(F.col("td_t_id").alias("th_t_id")),
            "th_t_id", "left_anti")
    n_trades = surviving.count()
    n_hist = hist.count()
    ft = read_model(spark, str(wh), "fact_trade").count()
    dt = read_model(spark, str(wh), "dim_trade").count()
    return [
        (f"{tag}__fact_trade_rowcount", abs(ft - n_trades)),
        (f"{tag}__dim_trade_rowcount", abs(dt - n_hist)),
    ]


def _scd2_invariant_checks(
    spark: SparkSession, wh
) -> list[tuple[str, int]]:
    """No overlapping versions, exactly one is_current per key, and
    the open version carries the 9999 sentinel — recomputed
    INDEPENDENTLY from the stored tables (windows over the stored
    rows, not the builder's own columns)."""
    from pyspark.sql import Window

    from dbt_tpcdi_spark.operators.scd2 import SCD2_SENTINEL

    out = []
    models = all_models()
    for m in AUDIT_SCD2:
        df = read_model(spark, str(wh), m)
        key = models[m].scd2_key
        cur = (
            df.groupBy(key)
            .agg(F.sum(F.col("is_current").cast("int")).alias("n"))
            .filter("n <> 1").count()
        )
        out.append((f"{m}__exactly_one_current", cur))
        w = Window.partitionBy(key).orderBy(
            F.col("effective_timestamp").asc())
        ov = (
            df.withColumn(
                "__next_eff",
                F.lead("effective_timestamp").over(w))
            .filter(
                F.col("__next_eff").isNotNull()
                & (F.col("__next_eff") <= F.col("end_timestamp")))
            .count()
        )
        out.append((f"{m}__no_overlapping_versions", ov))
        sen = df.filter(
            F.col("is_current")
            & (F.col("end_timestamp")
               != F.lit(SCD2_SENTINEL).cast("timestamp"))
        ).count()
        out.append((f"{m}__current_ends_sentinel", sen))
    return out


def _ri_window_checks(spark: SparkSession, wh) -> list[tuple[str, int]]:
    """Referential integrity INSIDE validity windows: every fact FK
    must resolve to a dimension version whose [effective, end] brackets
    the fact's own timestamp — a dangling sk OR an out-of-window match
    both count as violations."""
    def read(n):
        return read_model(spark, str(wh), n)

    def bad(fact, ts_expr, dim, sk, dim_ts="effective_timestamp"):
        d = read(dim).select(
            sk, F.col(dim_ts).alias("__eff"),
            F.col("end_timestamp").alias("__end"))
        f = read(fact)
        return (
            f.join(d, sk, "left")
            .filter(
                F.col("__eff").isNull()
                | ~F.expr(ts_expr).between(
                    F.col("__eff"), F.col("__end")))
            .count()
        )

    return [
        ("fact_trade__account_fk_in_window",
         bad("fact_trade", "create_timestamp", "dim_account",
             "sk_account_id")),
        ("fact_trade__security_fk_in_window",
         bad("fact_trade", "create_timestamp", "dim_security",
             "sk_security_id")),
        ("fact_trade__trade_fk_in_window",
         bad("fact_trade", "create_timestamp", "dim_trade",
             "sk_trade_id")),
        ("fact_cash__account_fk_in_window",
         bad("fact_cash_transactions", "transaction_timestamp",
             "dim_account", "sk_account_id")),
        ("fact_watches__customer_fk_in_window",
         bad("fact_watches",
             "cast(sk_date_placed AS timestamp)",
             "dim_customer", "sk_customer_id")),
    ]


def _batch_audit(spark: SparkSession) -> list[tuple[str, int]]:
    key = ("batch_audit", spark.sparkContext.applicationId)
    if key in _CACHE:
        return _CACHE[key]
    with _PARITY_LOCK:
        if key in _CACHE:
            return _CACHE[key]
        root = _fixture_root()
        b1 = load_dag_sources(spark, str(root / "raw"))
        b2 = load_dag_sources(spark, str(root / "raw_batch2"))
        b3 = load_dag_sources(spark, str(root / "raw_batch3"))
        cum2 = _combine_batch(b1, b2)
        cum3 = _combine_batch(cum2, b3)
        del2 = b2["trade_deletes"]
        del23 = del2.unionByName(b3["trade_deletes"])
        app = spark.sparkContext.applicationId

        out: list[tuple[str, int]] = []
        states = (
            ("batch1", b1, None),
            ("batch2", cum2, del2),
            ("batch3", cum3, del23),
        )
        for tag, sources, deletes in states:
            wh = root / f"wh_audit_{tag}_{app}"
            _audit_state(spark, wh, sources, deletes)
            out += _rowcount_checks(spark, tag, wh, sources, deletes)
        final_wh = root / f"wh_audit_batch3_{app}"
        out += _scd2_invariant_checks(spark, final_wh)
        out += _ri_window_checks(spark, final_wh)
        _CACHE[key] = out
        return out


_AUDIT_CHECK_NAMES = tuple(
    f"{tag}__{c}" for tag in ("batch1", "batch2", "batch3")
    for c in ("fact_trade_rowcount", "dim_trade_rowcount")
) + tuple(
    f"{m}__{c}" for m in AUDIT_SCD2
    for c in ("exactly_one_current", "no_overlapping_versions",
              "current_ends_sentinel")
) + (
    "fact_trade__account_fk_in_window",
    "fact_trade__security_fk_in_window",
    "fact_trade__trade_fk_in_window",
    "fact_cash__account_fk_in_window",
    "fact_watches__customer_fk_in_window",
)


@query(
    "dag_batch_audit",
    oracle="SELECT * FROM (VALUES " + ", ".join(
        f"('{n}', 0)" for n in sorted(_AUDIT_CHECK_NAMES)
    ) + ") t(check_name, violations)",
    tags=["§3.3-dbt-test", "A3", "W1", "W2", "S11"],
)
def dag_batch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DI audit-style batch validation (public spec §7.4 shapes;
    the reference defers audit, README.md:55): per-batch row counts
    (warehouse rows vs cumulative source feeds minus CDC purges) over
    Batch1, Batch1+2, and Batch1+2+3 states; SCD2 invariants (exactly
    one is_current per key, no overlapping validity windows, sentinel
    end on the open version) recomputed independently from storage;
    and in-window referential integrity for every fact FK. The oracle
    pins every violation count to zero."""
    rows = [(n, int(v)) for n, v in _batch_audit(spark)]
    return local_df(spark, 
        rows, "check_name string, violations int")
