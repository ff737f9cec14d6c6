"""Bronze layer: 17 models (reference ``models/bronze/**``).

14 are pure passthroughs (P2); ``reference_date`` re-keys on the date
value (``bronze/reference/reference_date.sql:1-20``); the two FINWIRE
bronze models do the numeric/date conversions and the CIK-vs-name
disambiguation (``bronze/finwire/finwire_security.sql``,
``finwire_financial.sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_tpcdi_spark.plans.registry import Layout, model

# --- brokerage passthroughs (e.g. brokerage_trade.sql:1-2) -----------------


@model(layer="bronze", sources=("cash_transaction",))
def brokerage_cash_transaction(ref, src) -> DataFrame:
    return src("cash_transaction")


@model(layer="bronze", sources=("daily_market",))
def brokerage_daily_market(ref, src) -> DataFrame:
    return src("daily_market")


@model(layer="bronze", sources=("holding_history",))
def brokerage_holding_history(ref, src) -> DataFrame:
    return src("holding_history")


@model(layer="bronze", sources=("trade",))
def brokerage_trade(ref, src) -> DataFrame:
    return src("trade")


@model(layer="bronze", sources=("trade_history",),
       # range-cluster on the trade id so a trade-id window read
       # FILE-PRUNES: read_where("th_t_id", lo, hi) reads only the id
       # blocks the window spans (a Batch2+ delta's touched keys are
       # id-local). bench.py's dagbig/conebig probes take touched
       # trades' prior history this way; batch landing does not — it
       # semi-joins the raw cumulative feed (plans.batches.batch_deltas)
       layout=Layout(range_by=("th_t_id",), stats_cols=("th_t_id",)))
def brokerage_trade_history(ref, src) -> DataFrame:
    return src("trade_history")


@model(layer="bronze", sources=("watch_history",))
def brokerage_watch_history(ref, src) -> DataFrame:
    return src("watch_history")


# --- crm / hr / syndicated passthroughs ------------------------------------


@model(layer="bronze", sources=("customer_mgmt",))
def crm_customer_mgmt(ref, src) -> DataFrame:
    """The XML flattening happens at ingest (like the reference loader,
    tpcdi.py:265-331); bronze is a passthrough of that table."""
    return src("customer_mgmt")


@model(layer="bronze", sources=("hr",))
def hr_employee(ref, src) -> DataFrame:
    return src("hr")


@model(layer="bronze", sources=("prospect",))
def syndicated_prospect(ref, src) -> DataFrame:
    return src("prospect")


# --- reference passthroughs + date re-key ----------------------------------


@model(layer="bronze", sources=("date",))
def reference_date(ref, src) -> DataFrame:
    """SK_DATE_ID is replaced by the date value itself
    (reference_date.sql:1-3)."""
    d = src("date")
    return d.select(
        F.col("date_value").alias("sk_date_id"),
        *[c for c in d.columns if c != "sk_date_id"],
    )


@model(layer="bronze", sources=("industry",))
def reference_industry(ref, src) -> DataFrame:
    return src("industry")


@model(layer="bronze", sources=("status_type",))
def reference_status_type(ref, src) -> DataFrame:
    return src("status_type")


@model(layer="bronze", sources=("tax_rate",))
def reference_tax_rate(ref, src) -> DataFrame:
    return src("tax_rate")


@model(layer="bronze", sources=("trade_type",))
def reference_trade_type(ref, src) -> DataFrame:
    return src("trade_type")


# --- finwire ----------------------------------------------------------------


@model(layer="bronze", sources=("cmp",))
def finwire_company(ref, src) -> DataFrame:
    """Passthrough (finwire_company.sql:1-5); typing happened at ingest."""
    return src("cmp")


@model(layer="bronze", sources=("sec",))
def finwire_security(ref, src) -> DataFrame:
    """Numeric/date conversions + CIK disambiguation
    (finwire_security.sql:1-18): a numeric co_name_or_cik is a CIK,
    anything else is the company name."""
    s = src("sec")
    try_cik = F.col("co_name_or_cik").try_cast("long")
    return s.select(
        "pts",
        "symbol",
        "issue_type",
        "status",
        "name",
        "ex_id",
        F.col("sh_out").try_cast("long").alias("sh_out"),
        F.to_date("first_trade_date", "yyyyMMdd").alias("first_trade_date"),
        F.to_date("first_exchange_date", "yyyyMMdd").alias("first_exchange_date"),
        F.col("dividend").cast("double").alias("dividend"),
        try_cik.alias("cik"),
        F.when(try_cik.isNull(), F.col("co_name_or_cik")).alias("company_name"),
    )


@model(layer="bronze", sources=("fin",))
def finwire_financial(ref, src) -> DataFrame:
    """Conversions + CIK disambiguation (finwire_financial.sql:1-27).

    Money fields cast to DoubleType by default, DecimalType(15,2)
    under ``SPARK_TPCDI_MONEY=decimal`` (see
    ``sources/delimited.MONEY_COLS``) — resolved at build time."""
    from dbt_tpcdi_spark.sources.delimited import money_mode_decimal

    s = src("fin")
    money = "decimal(15,2)" if money_mode_decimal() else "double"
    try_cik = F.col("co_name_or_cik").try_cast("long")
    return s.select(
        "pts",
        F.col("year").cast("long").alias("year"),
        F.col("quarter").cast("long").alias("quarter"),
        F.to_date("quarter_start_date", "yyyyMMdd").alias("quarter_start_date"),
        F.to_date("posting_date", "yyyyMMdd").alias("posting_date"),
        F.col("revenue").cast(money).alias("revenue"),
        F.col("earnings").cast(money).alias("earnings"),
        F.col("eps").cast(money).alias("eps"),
        F.col("diluted_eps").cast(money).alias("diluted_eps"),
        F.col("margin").cast(money).alias("margin"),
        F.col("inventory").cast(money).alias("inventory"),
        F.col("assets").cast(money).alias("assets"),
        F.col("liabilities").cast(money).alias("liabilities"),
        F.col("sh_out").cast("long").alias("sh_out"),
        F.col("diluted_sh_out").cast("long").alias("diluted_sh_out"),
        try_cik.alias("cik"),
        F.when(try_cik.isNull(), F.col("co_name_or_cik")).alias("company_name"),
    )
