"""Streaming-runtime queries: the driver gate exercises the actual
Structured Streaming engine (readStream → AvailableNow → memory sink),
not just batch twins. Results are deterministic, so the batch oracle
applies unchanged — batch/stream parity is checked by the driver
itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_tpcdi_spark.operators import text as X
from dbt_tpcdi_spark.queries import query
from dbt_tpcdi_spark.queries.relational import MONEY, TS_FMT, TS_FMT_DUCK
from dbt_tpcdi_spark.streaming.ops import run_to_memory, stream_events
from dbt_tpcdi_spark.session import local_df


@query(
    "streaming_tumbling",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n_events,
           cast(round(sum(cast(value AS {MONEY})), 2) AS double) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=["§2.9-streaming", "A1"],
)
def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation executed BY the streaming engine
    (same oracle as the batch tumbling_window query — parity is the
    assertion)."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(MONEY)), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    run_to_memory(agg, "q_streaming_tumbling")
    return spark.table("q_streaming_tumbling")


# ---------------------------------------------------------------------------
# streaming SCD2 ingestion (exactly-once merge into a versioned table)

_SCD2_STREAM_CACHE: dict = {}


@query(
    "streaming_scd2_merge",
    oracle=f"""
    SELECT user_id, event_id, value,
           strftime(ts, '{TS_FMT_DUCK}') AS effective_ts,
           strftime(coalesce(lead(ts) OVER w - INTERVAL 1 MILLISECOND,
                             TIMESTAMP '9999-12-31 23:59:59.999'),
                    '{TS_FMT_DUCK}') AS end_ts,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1
               AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
    tags=["§2.9-streaming", "W1", "W2", "S11"],
)
def streaming_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming SCD2: seed a versioned table with 1/4 of
    the per-user event versions, stream the rest through foreachBatch
    merge_scd2 (one file per micro-batch), then REPLAY the whole stream
    with a fresh checkpoint — the replay must merge nothing (row-level
    idempotence), so the final table equals a from-scratch SCD2 build
    over all events, which is what the oracle computes."""
    import tempfile

    # applicationId is unique per SparkContext launch; id(spark)
    # can alias a new session after the old one is collected
    cache_key = (sf_dir, spark.sparkContext.applicationId)
    if cache_key not in _SCD2_STREAM_CACHE:
        from dbt_tpcdi_spark.operators.scd2 import with_scd2
        from dbt_tpcdi_spark.plans.versioned import VersionedTable
        from dbt_tpcdi_spark.sources.parquet import load_table
        from dbt_tpcdi_spark.streaming.ops import stream_merge_scd2

        root = tempfile.mkdtemp(prefix="scd2_stream_")
        events = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "value"
        )
        bucket = F.col("event_id") % 4

        table = VersionedTable(spark, f"{root}/user_versions")
        table.commit(with_scd2(events.filter(bucket == 0),
                               key="user_id", ts="ts"), op="seed")
        for b in (1, 2, 3):
            events.filter(bucket == b).coalesce(1).write.parquet(
                f"{root}/deltas/b{b}"
            )

        def delta_stream() -> DataFrame:
            return (
                spark.readStream.schema(
                    "user_id bigint, ts timestamp, event_id bigint, "
                    "value double"
                )
                .option("recursiveFileLookup", "true")
                .option("pathGlobFilter", "*.parquet")
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{root}/deltas")
            )

        stream_merge_scd2(delta_stream(), table, key="user_id", ts="ts",
                          checkpoint_dir=f"{root}/ckpt")
        v_done = table.latest_version()
        # replay from scratch: at-least-once delivery simulation — the
        # idempotent merge must commit nothing
        stream_merge_scd2(delta_stream(), table, key="user_id", ts="ts",
                          checkpoint_dir=f"{root}/ckpt_replay")
        if table.latest_version() != v_done:
            raise AssertionError("replay was not idempotent")
        _SCD2_STREAM_CACHE[cache_key] = table
    table = _SCD2_STREAM_CACHE[cache_key]
    return table.read().select(
        "user_id", "event_id", "value",
        F.date_format("ts", TS_FMT).alias("effective_ts"),
        F.date_format("end_timestamp", TS_FMT).alias("end_ts"),
        "is_current",
    )


@query(
    "streaming_sliding",
    oracle=f"""
    SELECT strftime(ws, '{TS_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n_events
    FROM (
        SELECT e.*,
               time_bucket(INTERVAL 15 MINUTE, ts)
                   - k.k * INTERVAL 15 MINUTE AS ws
        FROM events e, (SELECT unnest(range(0, 4)) AS k) k
    )
    GROUP BY 1, 2
    """,
    tags=["§2.9-streaming", "A1"],
)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows executed BY the streaming engine (1h span /
    15min slide — each event in 4 windows); same enumeration oracle as
    the batch sliding_window query."""
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                 "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    run_to_memory(agg, "q_streaming_sliding")
    return spark.table("q_streaming_sliding")


@query(
    "streaming_dedup",
    oracle=f"""
    SELECT event_id, strftime(ts, '{TS_FMT_DUCK}') AS ts_s,
           event_type, user_id
    FROM events
    """,
    tags=["§2.9-streaming", "A4"],
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery dedup IN the streaming engine: the events
    stream unioned with itself (simulated redelivery) through
    ``dropDuplicatesWithinWatermark`` on event_id — state is scoped to
    the watermark horizon instead of growing forever, which is what
    makes exactly-once-style dedup viable on an unbounded stream. The
    batch oracle is simply the original (un-doubled) events."""
    from dbt_tpcdi_spark.streaming.ops import stream_events

    doubled = stream_events(spark, sf_dir).union(
        stream_events(spark, sf_dir)
    )
    dedup = (
        doubled.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            F.date_format("ts", TS_FMT).alias("ts_s"),
            "event_type",
            "user_id",
        )
    )
    run_to_memory(dedup, "q_streaming_dedup", output_mode="append")
    return spark.table("q_streaming_dedup")


@query(
    "streaming_join",
    oracle=f"""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           strftime(p.ts, '{TS_FMT_DUCK}') AS purchase_ts,
           strftime(c.ts, '{TS_FMT_DUCK}') AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    """,
    tags=["§2.9-streaming", "J6"],
)
def streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join IN the streaming engine: each
    purchase joined to the same user's clicks in the preceding 30
    minutes. The time bound on both inputs is what lets the engine
    expire join state past the watermark horizon — the only state
    shape that survives two unbounded streams. Same rows as the batch
    interval join the oracle computes."""
    from dbt_tpcdi_spark.streaming.ops import stream_events

    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.date_format("p_ts", TS_FMT).alias("purchase_ts"),
        F.date_format("c_ts", TS_FMT).alias("click_ts"),
    )
    run_to_memory(joined, "q_streaming_join", output_mode="append")
    return spark.table("q_streaming_join")


@query(
    "streaming_sessionize",
    oracle=f"""
    WITH e AS (
        SELECT user_id, ts, epoch_ms(ts) AS ts_ms FROM events
    ),
    gaps AS (
        SELECT *, CASE WHEN ts_ms - lag(ts_ms) OVER w >= 1800000
                       OR lag(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
    ),
    sess AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    )
    SELECT user_id,
           strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_FMT_DUCK}')
               AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    tags=["§2.9-streaming", "A1", "W1"],
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows executed BY the streaming engine
    (``F.session_window`` — the engine merges overlapping per-event
    [ts, ts+gap) ranges in the state store, so a session splits
    exactly when a gap ≥ 30 min appears; the oracle is the equivalent
    batch gaps-and-islands with the same >= split rule). Watermark
    bounds session state; keyed by user, so state shards across
    executors."""
    from dbt_tpcdi_spark.streaming.ops import session_windows

    events = stream_events(spark, sf_dir)
    sess = session_windows(events, gap="30 minutes", watermark="2 hours")
    out = sess.select(
        "user_id",
        F.date_format(F.col("session_start"), TS_FMT).alias("session_start"),
        F.date_format(F.col("session_end"), TS_FMT).alias("session_end"),
        "n_events",
    )
    run_to_memory(out, "q_streaming_sessionize")
    return spark.table("q_streaming_sessionize")


@query(
    "streaming_running_totals",
    oracle="""
    SELECT user_id,
           cast(sum(cast(round(cast(value AS decimal(18,4)) * 10000)
                AS bigint)) AS bigint) AS total_q,
           count(*) AS n
    FROM events GROUP BY 1
    """,
    tags=["§2.9-streaming", "§2.10-stateful", "A1"],
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful operator under the driver gate:
    applyInPandasWithState accumulates exact per-user integer totals
    (values quantized Spark-side, so the Arrow-batched pandas sum is
    int64-exact and the result engine-comparable). AvailableNow drains
    the file stream; update mode emits each user's CURRENT state per
    micro-batch — the memory sink APPENDS those emissions, so a user
    updated in several micro-batches (multiple source files, or
    maxFilesPerTrigger set) appears once per batch. The read below
    keeps only the LAST emission per user: n is strictly increasing
    across a user's emissions, so max_by(total_q, n) + max(n) is the
    final state regardless of how many micro-batches the drain took."""
    from dbt_tpcdi_spark.streaming.ops import running_user_totals_q

    events = stream_events(spark, sf_dir)
    out = running_user_totals_q(events)
    run_to_memory(out, "q_streaming_running_totals", output_mode="update")
    sink = spark.table("q_streaming_running_totals")
    return sink.groupBy("user_id").agg(
        F.max_by("total_q", "n").alias("total_q"),
        F.max("n").alias("n"),
    )


@query(
    "streaming_enrich",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           count(*) AS n_events,
           cast(sum(cast(round(cast(e.value AS decimal(18,4)) * 10000)
                AS bigint)) AS bigint) AS total_q
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    tags=["§2.9-streaming", "J1", "A1"],
)
def streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join (the third join mode after batch
    and stream-stream): the event stream joins a static customer
    dimension — Spark broadcasts the dim into every micro-batch, no
    join state accumulates (unlike stream-stream, nothing is buffered
    waiting for the other side) — then aggregates exact quantized
    totals per nation."""
    from dbt_tpcdi_spark.sources.parquet import load_table

    events = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    joined = events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    )
    agg = joined.groupBy(
        F.col("c_nationkey").alias("nationkey")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.round(F.col("value").cast("decimal(18,4)") * 10000)
            .cast("bigint")
        ).cast("bigint").alias("total_q"),
    )
    run_to_memory(agg, "q_streaming_enrich")
    return spark.table("q_streaming_enrich")


@query(
    "streaming_curation",
    oracle=f"""
    WITH rep AS (
        {X.repetition_features_sql('documents', 'doc_id')}
    )
    SELECT d.lang, rep.is_repetitive, count(*) AS n_docs
    FROM rep JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """,
    tags=["§2.9-streaming", "llm-curation-pipeline", "A1", "J1"],
)
def streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation ON the stream: Gopher repetition features computed as a
    pure projection over a document file stream (filters that are
    shuffle-free in batch stay stateless in streaming — the property
    that lets a crawler curate in-flight), enriched with the static
    corpus dim via a broadcast stream-static join, aggregated per
    (lang, is_repetitive). Complete-mode memory sink under
    AvailableNow; the oracle is the identical batch computation."""
    from dbt_tpcdi_spark.operators.text import repetition_features
    from dbt_tpcdi_spark.sources.parquet import load_table
    from dbt_tpcdi_spark.streaming.ops import stream_documents

    docs = stream_documents(spark, sf_dir)
    rep = repetition_features(docs, "doc_id")
    dim = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    agg = (
        rep.join(F.broadcast(dim), "doc_id")
        .groupBy("lang", "is_repetitive")
        .agg(F.count("*").alias("n_docs"))
    )
    run_to_memory(agg, "q_streaming_curation")
    return spark.table("q_streaming_curation")


@query(
    "streaming_heavy_hitters",
    oracle=None,  # replaced below: shared with the batch two-pass plan
    tags=["§2.9-streaming", "§2.10-stateful", "llm-heavy-hitters"],
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with the SUMMARY PASS ON THE STREAM: document
    tokens hash-route to 8 stateful Misra–Gries groups
    (applyInPandasWithState, ≤ 30 counters + a processed-count each,
    so state is 240 rows no matter how long the stream runs), then the
    drained candidates + streamed total feed the SAME exact batch
    recount as ``heavy_hitters`` — two-pass exactness survives the
    move to streaming because pass 1 only needs to be a candidate
    SUPERSET, which the per-bucket MG bound guarantees for any
    micro-batch split. Update-mode emissions are deduped to each
    bucket's final ``seq`` (a bucket re-emitted per micro-batch keeps
    only its last candidate set)."""
    from dbt_tpcdi_spark.queries.corpus import hh_exact_recount
    from dbt_tpcdi_spark.streaming.ops import (
        stream_documents,
        streaming_mg_summary,
    )

    docs = stream_documents(spark, sf_dir)
    toks = docs.select(
        F.explode(X.tokens(F.col("text"))).alias("token")
    )
    out = streaming_mg_summary(toks)
    run_to_memory(out, "q_streaming_hh", output_mode="update")
    sink = spark.table("q_streaming_hh")
    last = (
        sink.groupBy("bucket")
        .agg(F.max("seq").alias("__last"))
        .select(F.col("bucket").alias("__b"), "__last")
    )
    final = sink.join(
        last,
        (F.col("bucket") == F.col("__b")) & (F.col("seq") == F.col("__last")),
    )
    cand = (
        final.filter(F.col("token").isNotNull())
        .select("token")
        .distinct()
    )
    return hh_exact_recount(spark, sf_dir, cand)


def _install_streaming_hh_oracle() -> None:
    from dbt_tpcdi_spark.queries import REGISTRY
    from dbt_tpcdi_spark.queries.corpus import HH_ORACLE

    REGISTRY["streaming_heavy_hitters"].oracle = HH_ORACLE


_install_streaming_hh_oracle()


# ---------------------------------------------------------------------------
# streaming ordered funnel (VERDICT r9 item 8)


def _install_streaming_funnel() -> None:
    from dbt_tpcdi_spark.queries.extended import (
        _FUNNEL_GAP_MS,
        _FUNNEL_ORACLE,
    )

    @query(
        "streaming_funnel",
        oracle=_FUNNEL_ORACLE,
        tags=["§2.9-streaming", "ext-funnel", "A3"],
    )
    def streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The ordered funnel computed BY the streaming engine:
        per-user stateful re-evaluation (``streaming_funnel_state`` —
        a late earlier view repairs downstream steps exactly), update
        emissions deduped to each user's final ``seq``, then the same
        per-step counts + integer mean gaps as the batch cascade —
        gated against the IDENTICAL oracle as ``funnel_conversion``
        (batch/stream parity is the assertion, the 11th streaming
        gate)."""
        from dbt_tpcdi_spark.streaming.ops import streaming_funnel_state

        events = stream_events(spark, sf_dir)
        out = streaming_funnel_state(events, _FUNNEL_GAP_MS)
        run_to_memory(out, "q_streaming_funnel", output_mode="update")
        sink = spark.table("q_streaming_funnel")
        last = (
            sink.groupBy("user_id")
            .agg(F.max("seq").alias("__last"))
            .select(F.col("user_id").alias("__u"), "__last")
        )
        per_user = sink.join(
            last,
            (F.col("user_id") == F.col("__u"))
            & (F.col("seq") == F.col("__last")),
        ).select("t1", "t2", "t3")

        def _step(df: DataFrame, step: int, name: str,
                  gap: str | None) -> DataFrame:
            n = F.count("*").cast("bigint")
            mean = (
                F.expr(f"sum({gap}) div count(*)") if gap
                else F.lit(None)
            )
            return df.agg(
                n.alias("n_users"),
                mean.cast("bigint").alias("mean_gap_ms"),
            ).select(
                F.lit(step).cast("int").alias("step"),
                F.lit(name).alias("step_name"),
                "n_users",
                "mean_gap_ms",
            )

        return (
            _step(per_user.filter(F.col("t1").isNotNull()),
                  1, "view", None)
            .unionByName(_step(
                per_user.filter(F.col("t2").isNotNull()),
                2, "click", "t2 - t1"))
            .unionByName(_step(
                per_user.filter(F.col("t3").isNotNull()),
                3, "purchase", "t3 - t2"))
        )


_install_streaming_funnel()


# ---------------------------------------------------------------------------
# streaming dedup-index ingestion (the streaming twin of
# incremental_dedup: a fingerprint index as a versioned table, fed by
# a document stream)

_DEDUP_STREAM_CACHE: dict = {}


def _install_streaming_dedup_index() -> None:
    from dbt_tpcdi_spark.operators import text as TX

    @query(
        "streaming_dedup_index",
        oracle=f"""
        WITH d AS (
            SELECT doc_id, {TX.fingerprint_sql('text')} AS fp
            FROM documents
        )
        SELECT fp, min(doc_id) AS first_doc,
               substr(fp, 1, 1) AS fp_bucket
        FROM d GROUP BY fp
        """,
        tags=["§2.9-streaming", "llm-dedup-incremental", "S11"],
    )
    def streaming_dedup_index(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming corpus ingestion against a versioned fingerprint
        index (the 12th streaming gate — incremental_dedup's
        streaming twin): documents arrive as micro-batches
        (foreachBatch over a file stream), each batch MIN-merges its
        per-fingerprint first_doc into the index via
        ``partitioned_upsert`` — only fingerprints whose winner
        CHANGED commit, so the merge is ORDER-INDEPENDENT across any
        micro-batch split (min is associative/commutative/idempotent)
        and an at-least-once REPLAY of the whole stream commits
        nothing (asserted in-query). Per batch the work is one
        fingerprint projection, one map-side min, one join against
        the index, and a partition-pruned commit of the touched
        fp-prefix buckets — O(touched buckets + batch), never
        O(index)."""
        import tempfile

        from dbt_tpcdi_spark.plans.versioned import VersionedTable
        from dbt_tpcdi_spark.sources.parquet import load_table

        cache_key = (sf_dir, spark.sparkContext.applicationId)
        if cache_key not in _DEDUP_STREAM_CACHE:
            root = tempfile.mkdtemp(prefix="dedup_stream_")
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            for b in (0, 1, 2):
                docs.filter(F.col("doc_id") % 3 == b).coalesce(
                    1
                ).write.parquet(f"{root}/deltas/b{b}")
            index = VersionedTable(spark, f"{root}/fp_index")

            def ingest(batch_df: DataFrame, batch_id: int) -> None:
                b = (
                    batch_df.select(
                        TX.fingerprint(F.col("text")).alias("fp"),
                        "doc_id",
                    )
                    .groupBy("fp")
                    .agg(F.min("doc_id").alias("first_doc"))
                    .withColumn(
                        "fp_bucket", F.substring("fp", 1, 1)
                    )
                )
                if index.latest_version() is None:
                    index.partitioned_upsert(
                        b, key="fp", partition_col="fp_bucket"
                    )
                    return
                existing = index.read().select(
                    "fp", F.col("first_doc").alias("__prev_first")
                )
                changed = (
                    b.join(existing, "fp", "left")
                    .filter(
                        F.col("__prev_first").isNull()
                        | (F.col("first_doc") < F.col("__prev_first"))
                    )
                    .select("fp", "first_doc", "fp_bucket")
                )
                if changed.isEmpty():
                    return  # min unchanged everywhere: no commit
                index.partitioned_upsert(
                    changed, key="fp", partition_col="fp_bucket"
                )

            def run(ckpt: str) -> None:
                q = (
                    spark.readStream.schema(
                        "doc_id bigint, text string"
                    )
                    .option("recursiveFileLookup", "true")
                    .option("pathGlobFilter", "*.parquet")
                    .option("maxFilesPerTrigger", "1")
                    .parquet(f"{root}/deltas")
                    .writeStream.foreachBatch(ingest)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

            run(f"{root}/ckpt")
            v_done = index.latest_version()
            run(f"{root}/ckpt_replay")  # at-least-once redelivery
            if index.latest_version() != v_done:
                raise AssertionError("replayed stream was not no-op")
            _DEDUP_STREAM_CACHE[cache_key] = index
        return _DEDUP_STREAM_CACHE[cache_key].read()


_install_streaming_dedup_index()


# ---------------------------------------------------------------------------
# streamed Batch2 end-to-end (VERDICT r9 item 7): the incremental DAG
# refresh driven from STREAMED delta delivery, not pre-staged files

_STREAM_DAG_CACHE: dict = {}

_STREAM_DAG_CHECKS = (
    "trade_feed_complete",
    "history_feed_complete",
    "append_only_multibatch",
    "replay_fenced",
    "trades_history_equals_rebuild",
    "manifest_advanced",
)


@query(
    "streaming_dag_refresh",
    oracle="SELECT * FROM (VALUES " + ", ".join(
        f"('{n}', true)" for n in sorted(_STREAM_DAG_CHECKS)
    ) + ") t(check_name, ok)",
    tags=["§2.9-streaming", "S11", "W1", "W2"],
)
def streaming_dag_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed Batch2 → warehouse refresh, end to end: the Batch2
    trade/trade-history feeds arrive as a STREAM (one file per
    micro-batch through ``stream_append_versioned`` — exactly-once
    O(batch) append commits into versioned bronze feed tables), the
    SCD2 ``merge_refresh`` consumes the LANDED COMMITS (never the
    staged files), and the merged ``trades_history`` must equal a
    from-scratch rebuild over Batch1+2 — the same equivalence the
    pre-staged ``dag_incremental_equivalence`` gate pins, now under
    streamed delivery, replay fencing, and a run-level manifest
    advance. One boolean row per check; the oracle pins them true."""
    key = (spark.sparkContext.applicationId,)
    if key not in _STREAM_DAG_CACHE:
        import tempfile
        from pathlib import Path

        from dbt_tpcdi_spark.plans.batches import combine_batch, merge_batch
        from dbt_tpcdi_spark.plans.runner import (
            MANIFEST_TABLE,
            Runner,
        )
        from dbt_tpcdi_spark.plans.sources import load_dag_sources
        from dbt_tpcdi_spark.plans.versioned import VersionedTable
        from dbt_tpcdi_spark.queries.tpcdi_gate import (
            _fixture_root,
            _PARITY_LOCK,
        )
        from dbt_tpcdi_spark.streaming.ops import stream_append_versioned

        with _PARITY_LOCK:
            root = _fixture_root()
            b1 = load_dag_sources(spark, str(root / "raw"))
            b2 = load_dag_sources(spark, str(root / "raw_batch2"))
            work = Path(tempfile.mkdtemp(prefix="stream_dag_"))

            wh = work / "wh"
            inc = Runner(spark, b1, warehouse_dir=str(wh),
                         materialize="versioned")
            inc.run(targets=["trades_history"], parallelism=8)
            mt = VersionedTable(spark, str(wh / MANIFEST_TABLE))
            m0 = mt.latest_version()

            # stage one file PER ROW so AvailableNow delivers N
            # micro-batches -> N append commits per feed
            feeds: dict[str, VersionedTable] = {}
            for nm in ("trade", "trade_history"):
                src = b2[nm]
                for i, row in enumerate(src.collect()):  # fixture-sized
                    local_df(spark, [row], src.schema).coalesce(
                        1).write.parquet(str(work / f"in_{nm}" / f"p{i}"))
                feed = VersionedTable(spark, str(work / f"feed_{nm}"))

                def delta_stream() -> DataFrame:
                    return (
                        spark.readStream.schema(src.schema)
                        .option("recursiveFileLookup", "true")
                        .option("pathGlobFilter", "*.parquet")
                        .option("maxFilesPerTrigger", "1")
                        .parquet(str(work / f"in_{nm}"))
                    )

                stream_append_versioned(
                    delta_stream(), feed, str(work / f"ckpt_{nm}"),
                    query_id=f"feed_{nm}",
                )
                v_done = feed.latest_version()
                # restart with the SAME checkpoint: exactly-once means
                # zero new commits
                stream_append_versioned(
                    delta_stream(), feed, str(work / f"ckpt_{nm}"),
                    query_id=f"feed_{nm}",
                )
                feeds[nm] = feed
                feeds[f"{nm}__replay_ok"] = (
                    feed.latest_version() == v_done)

            streamed_t = feeds["trade"].read()
            streamed_th = feeds["trade_history"].read()

            def _eq(a: DataFrame, b: DataFrame) -> bool:
                return (a.exceptAll(b).isEmpty()
                        and b.exceptAll(a).isEmpty())

            # the refresh consumes the LANDED commits: the feed tables
            # are the batch, folded onto Batch1 for the cumulative
            # history the replace merge reads
            streamed = {"trade": streamed_t, "trade_history": streamed_th}
            cum2 = combine_batch(b1, streamed)
            merge_batch(inc, streamed, cum2)
            inc.commit_manifest()

            # ground truth: from-scratch rebuild over Batch1+2
            wh_full = work / "wh_full"
            Runner(spark, combine_batch(b1, b2),
                   warehouse_dir=str(wh_full)).run(
                targets=["trades_history"], parallelism=8)
            rebuilt = spark.read.parquet(str(wh_full / "trades_history"))
            merged = inc.table("trades_history").read()

            th_versions = feeds["trade_history"].versions()
            checks = [
                ("trade_feed_complete", _eq(streamed_t, b2["trade"])),
                ("history_feed_complete",
                 _eq(streamed_th, b2["trade_history"])),
                ("append_only_multibatch",
                 all(v["op"] == "append" for v in th_versions)
                 and len(th_versions) >= 2),
                ("replay_fenced",
                 bool(feeds["trade__replay_ok"])
                 and bool(feeds["trade_history__replay_ok"])),
                ("trades_history_equals_rebuild", _eq(merged, rebuilt)),
                ("manifest_advanced", mt.latest_version() == m0 + 1),
            ]
            _STREAM_DAG_CACHE[key] = checks
    return local_df(spark, 
        _STREAM_DAG_CACHE[key], "check_name string, ok boolean")


# ---------------------------------------------------------------------------
# streaming quantile sketch (bottom-k ON the stream)


@query(
    "streaming_quantile_sketch",
    oracle=None,  # replaced below: shared with the batch serving plan
    tags=["§2.9-streaming", "§2.10-stateful", "llm-sketch"],
)
def streaming_quantile_sketch(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Quantile sketch maintained ON the stream: order rows hash-route
    to 8 stateful bottom-k groups (applyInPandasWithState, ≤ 256
    (h, v) pairs each — state is 2 048 rows however long the stream
    runs); the drained bucket sketches union into the global bottom-k
    and feed the SAME estimate derivation as the batch operator.
    Because bottom-k is order- and batching-insensitive, the streamed
    sketch is BIT-IDENTICAL to the batch one — so this query gates
    against the identical SQL oracle as ``quantile_sketch_serving``,
    the strongest batch/stream parity statement in the registry (not
    'close', equal)."""
    from dbt_tpcdi_spark.operators import frequent as FQ
    from dbt_tpcdi_spark.operators.text import md5_60bit
    from dbt_tpcdi_spark.queries.corpus import qs_orders_values
    from dbt_tpcdi_spark.streaming.ops import (
        run_to_memory,
        stream_orders,
        streaming_qs_sketch,
    )

    # the SAME value projection as the batch sketch (one definition —
    # drift would break the shared-oracle parity gate loudly but
    # confusingly) plus the sketch's salted key hash
    rows = qs_orders_values(stream_orders(spark, sf_dir)).select(
        md5_60bit(
            F.concat(F.lit(FQ.QS_SALT),
                     F.col("o_orderkey").cast("string"))
        ).alias("h"),
        "v",
    )
    out = streaming_qs_sketch(rows)
    run_to_memory(out, "q_streaming_qs", output_mode="update")
    sink = spark.table("q_streaming_qs")
    last = (
        sink.groupBy("bucket")
        .agg(F.max("seq").alias("__last"))
        .select(F.col("bucket").alias("__b"), "__last")
    )
    cand = sink.join(
        last,
        (F.col("bucket") == F.col("__b"))
        & (F.col("seq") == F.col("__last")),
    ).select("h", "v")
    sk = cand.orderBy("h", "v").limit(FQ.QS_K)
    return FQ.qs_estimates(sk)


def _install_streaming_qs_oracle() -> None:
    from dbt_tpcdi_spark.queries import REGISTRY
    from dbt_tpcdi_spark.queries import corpus as _corpus  # noqa: F401
    # (import registers quantile_sketch_serving when this module is
    # loaded standalone; all_queries() imports corpus first anyway)

    REGISTRY["streaming_quantile_sketch"].oracle = (
        REGISTRY["quantile_sketch_serving"].oracle
    )


_install_streaming_qs_oracle()


# ---------------------------------------------------------------------------
# streaming JSONL ingestion (the corpus-landing path as a stream)


@query(
    "streaming_jsonl_ingest",
    oracle="""
    SELECT source, cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_chars) AS bigint) AS chars_total
    FROM documents GROUP BY 1
    """,
    tags=["§2.9-streaming", "source-jsonl", "A1"],
)
def streaming_jsonl_ingest(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """JSONL landing as a STREAM — how a crawler's shard drops
    actually enter the pipeline: documents are written as gzip JSONL
    shards plus an injected garbage shard (same fixture as
    ``jsonl_scan``), then ingested with ``readStream.json`` under a
    declared schema, DROPMALFORMED, and ``maxFilesPerTrigger=2`` so
    the run exercises MULTIPLE micro-batches, and aggregated per
    source in complete mode. The oracle is the batch truth from the
    parquet table — scan-level schema declaration and malformed-line
    tolerance carry over to streaming unchanged because they are scan
    options, not query logic."""
    import os

    from dbt_tpcdi_spark.queries import fixture_root
    from dbt_tpcdi_spark.sources import jsonl as J
    from dbt_tpcdi_spark.sources.parquet import load_table

    root = fixture_root(sf_dir, "jsonl_stream")
    d = load_table(spark, sf_dir, "documents")
    J.write_jsonl(d, root, compression="gzip", shards=6)
    with open(os.path.join(root, "corrupt-extra.json"), "w") as fh:
        fh.write('{"doc_id": 7, "text": "unterminated\n')
        fh.write("not json\n")
    stream = (
        spark.readStream.schema(d.schema)
        .option("mode", "DROPMALFORMED")
        .option("maxFilesPerTrigger", "2")
        .json(root)
    )
    agg = stream.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )
    run_to_memory(agg, "q_streaming_jsonl")
    return spark.table("q_streaming_jsonl")
