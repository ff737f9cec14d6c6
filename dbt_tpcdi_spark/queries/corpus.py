"""Corpus-statistics queries: bounded-memory heavy hitters, weighted
reproducible sampling, asymmetric containment dedup, n-gram novelty,
and distributed GLM (logistic) training.

These extend the LLM-data-pipeline surface (queries/llm.py) with the
operations a crawl-scale curation run needs next: "which tokens/
hosts dominate the corpus" without a vocabulary-sized shuffle,
"sample documents ∝ length, reproducibly", "which documents are
CONTAINED in others" (jaccard's blind spot), "how much of each new
document is novel n-grams", and "fit a quality classifier with
nothing but aggregates". Every query follows the registry's
cross-engine determinism rules (queries/__init__.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_tpcdi_spark.functions.scalar import (
    hash_sample,
    hash_sample_sql,
    md5_mod,
    md5_mod_sql,
    round4,
    round4_sql,
    weighted_keep,
    weighted_keep_sql,
)
from dbt_tpcdi_spark.operators import bpe as B
from dbt_tpcdi_spark.operators import dedup as D
from dbt_tpcdi_spark.operators import frequent as FQ
from dbt_tpcdi_spark.operators import text as X
from dbt_tpcdi_spark.operators import unigram as U
from dbt_tpcdi_spark.operators import wordpiece as W
from dbt_tpcdi_spark.queries import query
from dbt_tpcdi_spark.sources.parquet import load_table
from dbt_tpcdi_spark.sources.parquet import spread as _spread
from dbt_tpcdi_spark.session import local_df

# ---------------------------------------------------------------------------
# exact heavy hitters via a two-pass Misra–Gries summary

_HH_S = 30  # report tokens with count > n/30; MG capacity k = s

#: shared by heavy_hitters and streaming_heavy_hitters — both
#: two-pass plans produce the EXACT answer, independent of summary
#: internals, so one plain GROUP-BY oracle verifies either
HH_ORACLE = f"""
    WITH t AS (
        SELECT unnest({X.tokens_sql('text')}) AS token FROM documents
    ),
    n AS (SELECT count(*) AS c FROM t)
    SELECT token, cast(count(*) AS bigint) AS n_occurrences,
           {round4_sql('count(*) / n.c')} AS share
    FROM t, n
    GROUP BY token, n.c
    HAVING count(*) * {_HH_S} > n.c
    """


def hh_exact_recount(spark: SparkSession, sf_dir: str, cand) -> DataFrame:
    """Pass 2 of the two-pass heavy-hitter plan: exact recount of the
    (tiny, broadcast) candidate set against the batch corpus, filtered
    to count·s > n. Shared by the batch and streaming front halves."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(X.tokens(F.col("text"))).alias("token"))
    total = toks.agg(F.count("*").cast("long").alias("__total"))
    exact = (
        toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * _HH_S > F.col("__total"))
        .select(
            "token",
            "n_occurrences",
            round4(F.col("n_occurrences") / F.col("__total")).alias("share"),
        )
    )


@query(
    "heavy_hitters",
    oracle=HH_ORACLE,
    tags=["llm-heavy-hitters", "A3"],
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All tokens with count > n/{s}, found WITHOUT shuffling the
    vocabulary: pass 1 is a per-partition Misra–Gries summary (≤ {s}
    counters per partition, a guaranteed superset of the answer —
    operators/frequent.py), pass 2 recounts ONLY the tiny broadcast
    candidate set exactly. The final filter makes the result
    independent of summary internals, so a plain GROUP-BY oracle
    verifies it.

    At 100 TB this is the difference between shuffling a multi-billion
    row host/n-gram vocabulary and shuffling ≤ k·partitions candidate
    rows plus one scalar total.

    Corpus scans: exactly TWO — ``mg_summary`` emits the candidates
    AND per-partition row counts from one pass, localCheckpointed
    (≤ (k+1)·partitions rows — metadata-sized) so its two consumers
    (candidate broadcast, total) don't each replay the scan; the
    recount is the second pass."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(X.tokens(F.col("text"))).alias("token"))
    summ = FQ.mg_summary(toks, "token", k=_HH_S).localCheckpoint(
        eager=True
    )
    total = summ.agg(F.sum("__part_n").cast("long").alias("__total"))
    cand = summ.filter(F.col("token").isNotNull()).select("token").distinct()
    exact = (
        toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * _HH_S > F.col("__total"))
        .select(
            "token",
            "n_occurrences",
            round4(F.col("n_occurrences") / F.col("__total")).alias("share"),
        )
    )


heavy_hitters.__doc__ = heavy_hitters.__doc__.replace("{s}", str(_HH_S))


# ---------------------------------------------------------------------------
# reproducible weighted sampling (inclusion probability ∝ token count)

_WS_TARGET = 64
_WS_SALT = "ws1"


@query(
    "weighted_sample",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               cast({X.token_count_sql('text')} AS bigint) AS w_tokens
        FROM documents
    ),
    t AS (SELECT sum(w_tokens) AS W FROM d)
    SELECT doc_id, w_tokens,
           {round4_sql(f'least(1.0, {_WS_TARGET} * w_tokens / W)')}
               AS inclusion_p
    FROM d, t
    WHERE {weighted_keep_sql('doc_id', 'w_tokens', 'W', _WS_TARGET,
                             _WS_SALT)}
    """,
    tags=["llm-sampling"],
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted Bernoulli sample (expected size ≤ {m}): long
    documents are proportionally more likely to be kept — the sampling
    mode token-budget curation wants — via a deterministic integer
    predicate (functions/scalar.weighted_keep), so the sample is
    identical across engines, reruns, and cluster sizes. One scalar
    total-weight aggregate broadcast into a filter; no sort, no
    collect."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.token_count(F.col("text")).cast("long").alias("w_tokens")
    )
    tot = d.agg(F.sum("w_tokens").cast("long").alias("__W"))
    return (
        d.crossJoin(F.broadcast(tot))
        .filter(
            weighted_keep(
                F.col("doc_id"), F.col("w_tokens"), F.col("__W"),
                _WS_TARGET, _WS_SALT,
            )
        )
        .select(
            "doc_id",
            "w_tokens",
            round4(
                F.least(
                    F.lit(1.0),
                    F.lit(_WS_TARGET) * F.col("w_tokens") / F.col("__W"),
                )
            ).alias("inclusion_p"),
        )
    )


weighted_sample.__doc__ = weighted_sample.__doc__.replace(
    "{m}", str(_WS_TARGET)
)


# ---------------------------------------------------------------------------
# asymmetric containment (the subset-document case jaccard misses)


@query(
    "containment_pairs",
    oracle=D.containment_pairs_sql("doc_id", "text", "documents",
                                   n=3, threshold=0.8),
    tags=["llm-dedup-containment"],
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (src, dst) pairs where ≥ 0.8 of src's distinct 3-gram
    shingles occur in dst — the excerpt/superset near-dup signal
    (operators/dedup.containment_pairs). Postings-join shape: work is
    Σ posting², never n²."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    return D.containment_pairs(d, "doc_id", "text", n=3, threshold=0.8)


# ---------------------------------------------------------------------------
# n-gram novelty: how much of each document is first-seen?


@query(
    "ngram_novelty",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {X.ngram_shingles_sql('text', 3)} AS __sh
        FROM documents
    ),
    posts AS (
        SELECT doc_id, unnest(__sh) AS __g
        FROM base WHERE len(__sh) > 0
    ),
    first AS (
        SELECT __g, min(doc_id) AS first_doc FROM posts GROUP BY 1
    )
    SELECT p.doc_id, cast(count(*) AS bigint) AS n_grams,
           cast(count(*) FILTER (p.doc_id = f.first_doc) AS bigint)
               AS n_novel,
           {round4_sql('(count(*) FILTER (p.doc_id = f.first_doc))'
                       ' / count(*)')} AS novelty
    FROM posts p JOIN first f ON p.__g = f.__g
    GROUP BY p.doc_id
    """,
    tags=["llm-novelty", "A1"],
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-gram
    shingles whose FIRST appearance (minimum doc_id — ingestion order)
    is this document. The streaming-corpus health metric: novelty
    collapsing toward 0 means the crawl is re-reading itself. Two
    map-side-combined shuffles (min per gram, then counts per doc) —
    linear in postings, no pair join at all."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    posts = (
        d.select(
            "doc_id",
            F.explode(X.ngram_shingles(F.col("text"), 3)).alias("__g"),
        )
    )
    first = posts.groupBy("__g").agg(F.min("doc_id").alias("first_doc"))
    return (
        posts.join(first, "__g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            round4(F.col("n_novel") / F.col("n_grams")).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# leakage-safe splitting: duplicates must not straddle train/test

_LSS_SALT = "lss1"


def _split_case_sql(key: str) -> str:
    return (
        f"CASE WHEN {hash_sample_sql(key, 0.90, salt=_LSS_SALT)} "
        f"THEN 'train' "
        f"WHEN {hash_sample_sql(key, 0.95, salt=_LSS_SALT)} "
        f"THEN 'val' ELSE 'test' END"
    )


def _split_case(key):
    return (
        F.when(hash_sample(key, 0.90, salt=_LSS_SALT), "train")
        .when(hash_sample(key, 0.95, salt=_LSS_SALT), "val")
        .otherwise("test")
    )


def _leakage_oracle() -> str:
    from dbt_tpcdi_spark.operators import graph as G
    from dbt_tpcdi_spark.queries.llm import _CLUSTER_PAIRS_SQL

    return f"""
    WITH comp AS ({G.components_sql(_CLUSTER_PAIRS_SQL)}),
    a AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    s AS (
        SELECT doc_id, rep,
               {_split_case_sql('rep')} AS split,
               {_split_case_sql('doc_id')} AS doc_split
        FROM a
    )
    SELECT split, cast(count(*) AS bigint) AS n_docs,
           cast(count(DISTINCT rep) AS bigint) AS n_clusters,
           cast(count(*) FILTER (doc_split <> split) AS bigint)
               AS n_docs_rescued
    FROM s GROUP BY 1
    """


@query(
    "leakage_safe_split",
    oracle=_leakage_oracle(),
    tags=["llm-dataset-split", "graph-cc", "A1", "J1"],
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment keyed on the NEAR-DUP CLUSTER
    representative (connected component of the ≥0.8-jaccard pair
    graph, singleton docs represent themselves) instead of the
    document id, so every near-copy of a document lands in the SAME
    split — the eval-contamination mode a per-doc hash split
    (``dataset_split``) cannot prevent. ``n_docs_rescued`` counts the
    documents whose naive per-doc assignment would have differed,
    i.e. exactly the leakage this query closes.

    Plan: the same bounded pair scan + large-star/small-star
    components as ``dedup_clusters``, one left join of labels back to
    the corpus, then the split stays a pure projection — no new
    shuffle class beyond the dedup pass a curation pipeline already
    runs."""
    from dbt_tpcdi_spark.operators import graph as G

    d = _spread(load_table(spark, sf_dir, "documents"))
    pairs = D.jaccard_pairs_bitset(
        d, "doc_id", "text", block_col="lang", threshold=0.8
    )
    comp = G.connected_components(pairs, src="id_a", dst="id_b")
    a = (
        d.select("doc_id")
        .join(comp, d["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("rep"),
        )
    )
    s = a.select(
        "doc_id",
        "rep",
        _split_case(F.col("rep")).alias("split"),
        _split_case(F.col("doc_id")).alias("doc_split"),
    )
    return s.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("rep").cast("long").alias("n_clusters"),
        F.sum(
            F.when(F.col("doc_split") != F.col("split"), 1).otherwise(0)
        ).cast("long").alias("n_docs_rescued"),
    )


# ---------------------------------------------------------------------------
# output shard planning (write-side load balance)

_SHARDS = 16
_SHARD_SALT = "shard1"


@query(
    "shard_plan",
    oracle=f"""
    WITH d AS (
        SELECT {md5_mod_sql('doc_id', _SHARDS, salt=_SHARD_SALT)}
                   AS shard_id,
               cast({X.token_count_sql('text')} AS bigint) AS tk
        FROM documents
    ),
    t AS (SELECT sum(tk) AS total FROM d)
    SELECT shard_id, cast(count(*) AS bigint) AS n_docs,
           cast(sum(tk) AS bigint) AS n_tokens,
           {round4_sql(f'sum(tk) * {_SHARDS} / t.total')} AS load_factor
    FROM d, t
    GROUP BY shard_id, t.total
    """,
    tags=["llm-shard-plan", "A1"],
)
def shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard load report: documents routed to {s} shards by
    md5(doc_id), with per-shard token mass and load factor (1.0 =
    perfectly even). This is the write-planning step before a
    ``repartition(shards, key)`` final write at 100 TB — hash routing
    is partitioning-independent, and the report is ONE
    map-side-combined aggregate + a scalar total, so checking balance
    costs nothing compared to writing the data."""
    d = load_table(spark, sf_dir, "documents").select(
        md5_mod(F.col("doc_id"), _SHARDS, salt=_SHARD_SALT).alias(
            "shard_id"
        ),
        X.token_count(F.col("text")).cast("long").alias("tk"),
    )
    tot = d.agg(F.sum("tk").cast("long").alias("__total"))
    return (
        d.groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tk").cast("long").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "shard_id",
            "n_docs",
            "n_tokens",
            round4(
                F.col("n_tokens") * _SHARDS / F.col("__total")
            ).alias("load_factor"),
        )
    )


shard_plan.__doc__ = shard_plan.__doc__.replace("{s}", str(_SHARDS))


# ---------------------------------------------------------------------------
# collocation detection (PMI-ranked adjacent bigrams)

_COLL_MIN = 5  # ignore bigrams seen fewer than this many times
_COLL_TOPK = 20


@query(
    "collocation_pmi",
    oracle=f"""
    WITH uni AS (
        SELECT unnest({X.tokens_sql('text')}) AS w FROM documents
    ),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
    n AS (SELECT count(*) AS total FROM uni),
    bi AS (
        SELECT unnest({X.ngram_list_sql('text', 2)}) AS bg FROM documents
    ),
    bcnt AS (
        SELECT bg, count(*) AS c_ab FROM bi GROUP BY 1
        HAVING count(*) >= {_COLL_MIN}
    )
    SELECT bg AS bigram, cast(b.c_ab AS bigint) AS n_pair,
           {round4_sql('(b.c_ab * n.total) / (a1.c * a2.c)')} AS lift
    FROM bcnt b
    JOIN ucnt a1 ON a1.w = split_part(b.bg, ' ', 1)
    JOIN ucnt a2 ON a2.w = split_part(b.bg, ' ', 2)
    CROSS JOIN n
    ORDER BY lift DESC, bigram ASC
    LIMIT {_COLL_TOPK}
    """,
    tags=["llm-collocations", "A1", "O1"],
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} collocations: adjacent bigrams ranked by lift
    n(ab)·N / (n(a)·n(b)) — PMI without the log (log is monotone, and
    transcendentals don't hash across engines; the integer-product
    ratio carries the identical ranking). The phrase-mining /
    tokenizer-seeding primitive: two map-side-combined count shuffles
    (unigrams, bigrams), two equi-joins against the (vocabulary-sized,
    AQE-broadcastable) unigram counts, one top-k. Products stay in
    int64: n(ab)·N ≤ corpus-tokens² needs sharding only past ~3·10⁹
    tokens, at which point quantize N/gcd first."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    uni = d.select(F.explode(X.tokens(F.col("text"))).alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    # total from the count table, NOT a second corpus scan: the ucnt
    # exchange subtree is shared, so Catalyst plans a ReusedExchange
    # and the corpus is tokenized once for unigrams
    total = ucnt.agg(F.sum("c").cast("long").alias("total"))
    bcnt = (
        d.select(F.explode(X.ngram_list(F.col("text"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= _COLL_MIN)
    )
    a1 = ucnt.select(F.col("w").alias("__w1"), F.col("c").alias("__c1"))
    a2 = ucnt.select(F.col("w").alias("__w2"), F.col("c").alias("__c2"))
    joined = (
        bcnt.withColumn("__w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("__w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(a1, "__w1")
        .join(a2, "__w2")
        .crossJoin(F.broadcast(total))
    )
    lift = round4(
        (F.col("c_ab") * F.col("total"))
        / (F.col("__c1") * F.col("__c2"))
    )
    return (
        joined.select(
            F.col("bg").alias("bigram"),
            F.col("c_ab").cast("long").alias("n_pair"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("bigram").asc())
        .limit(_COLL_TOPK)
    )


collocation_pmi.__doc__ = collocation_pmi.__doc__.replace(
    "{k}", str(_COLL_TOPK)
)


# ---------------------------------------------------------------------------
# dataset card: the per-source corpus documentation artifact


def _dataset_card_oracle() -> str:
    from dbt_tpcdi_spark.queries.llm import _CLUSTER_PAIRS_SQL

    qf = X.quality_features_sql("text")
    return f"""
    WITH qf AS (
        SELECT doc_id, source, lang,
               cast({qf['n_tokens']} AS bigint) AS ntok,
               cast(floor(({qf['quality_score']}) * 10000 + 0.5)
                    AS bigint) AS q4
        FROM documents
    ),
    pairs AS ({_CLUSTER_PAIRS_SQL}),
    nd AS (
        SELECT DISTINCT doc_id FROM (
            SELECT id_a AS doc_id FROM pairs
            UNION SELECT id_b FROM pairs
        )
    ),
    base AS (
        SELECT doc_id, source, {X.ngram_shingles_sql('text', 3)} AS sh
        FROM documents
    ),
    posts AS (
        SELECT doc_id, source, unnest(sh) AS g
        FROM base WHERE len(sh) > 0
    ),
    first AS (SELECT g, min(doc_id) AS fd FROM posts GROUP BY 1),
    nov AS (
        SELECT p.source, count(*) AS n_grams,
               count(*) FILTER (p.doc_id = f.fd) AS n_novel
        FROM posts p JOIN first f ON p.g = f.g GROUP BY 1
    )
    SELECT q.source,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(q.ntok) AS bigint) AS n_tokens,
           cast(count(DISTINCT q.lang) AS bigint) AS n_langs,
           {round4_sql('sum(q.q4) / (10000.0 * count(*))')}
               AS mean_quality,
           cast(count(nd.doc_id) AS bigint) AS n_near_dup_docs,
           {round4_sql('min(v.n_novel) / min(v.n_grams)')} AS novelty
    FROM qf q
    LEFT JOIN nd ON nd.doc_id = q.doc_id
    JOIN nov v ON v.source = q.source
    GROUP BY q.source
    """


@query(
    "dataset_card",
    oracle=_dataset_card_oracle(),
    tags=["llm-dataset-card", "A1", "J1"],
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the summary a training-data release
    ships with: document/token volume, language breadth, mean quality
    (per-doc scores quantized to int ten-thousandths BEFORE summing so
    the mean is order-independent), near-duplicate exposure (docs in
    ≥1 jaccard-0.8 pair), and n-gram novelty. One composition of the
    engine's existing count/postings/pair shapes — no new shuffle
    class; the pair scan is the same bounded bitset join the dedup
    queries run."""
    d = _spread(load_table(spark, sf_dir, "documents"))
    qf = X.quality_features(
        d.select("doc_id", "source", "lang", "text")
    ).select(
        "doc_id",
        "source",
        "lang",
        F.col("n_tokens").cast("long").alias("ntok"),
        F.floor(F.col("quality_score") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("q4"),
    )
    pairs = D.jaccard_pairs_bitset(
        d, "doc_id", "text", block_col="lang", threshold=0.8
    )
    nd = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__nd", F.lit(1))
    )
    posts = d.select(
        "doc_id",
        "source",
        F.explode(X.ngram_shingles(F.col("text"), 3)).alias("__g"),
    )
    first = posts.groupBy("__g").agg(F.min("doc_id").alias("__fd"))
    nov = (
        posts.join(first, "__g")
        .groupBy("source")
        .agg(
            F.count("*").alias("__n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("__fd"), 1).otherwise(0)
            ).alias("__n_novel"),
        )
        .select(
            F.col("source").alias("__nsrc"), "__n_grams", "__n_novel"
        )
    )
    return (
        qf.join(nd, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            round4(
                F.sum("q4") / (F.lit(10000.0) * F.count("*"))
            ).alias("mean_quality"),
            F.sum(F.coalesce(F.col("__nd"), F.lit(0)))
            .cast("long")
            .alias("n_near_dup_docs"),
        )
        .join(nov, F.col("source") == F.col("__nsrc"))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_langs",
            "mean_quality",
            "n_near_dup_docs",
            round4(F.col("__n_novel") / F.col("__n_grams")).alias(
                "novelty"
            ),
        )
    )


# ---------------------------------------------------------------------------
# tokenizer fertility (compression quality per language)


@query(
    "tokenizer_fertility",
    oracle=f"""
    WITH enc AS (
        {B.bpe_encode_incremental_sql('documents', 'doc_id', 'text',
                                      rounds=4, window=32)}
    )
    SELECT d.lang, cast(count(*) AS bigint) AS n_docs,
           cast(sum(length(d.text)) AS bigint) AS n_chars,
           cast(sum(e.n_bpe_tokens) AS bigint) AS n_bpe_tokens,
           {round4_sql('sum(length(d.text)) / sum(e.n_bpe_tokens)')}
               AS chars_per_token,
           {round4_sql('sum(e.n_bpe_tokens) / sum(e.n_words)')}
               AS tokens_per_word
    FROM enc e JOIN documents d ON d.doc_id = e.doc_id
    GROUP BY 1
    """,
    tags=["llm-bpe", "A1", "J1"],
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars-per-BPE-token and
    BPE-tokens-per-word under the incrementally-trained vocabulary —
    THE acceptance metric for a tokenizer on a multilingual corpus
    (a language with low chars/token pays more sequence length for
    the same text). Composes the production encode path (vocabulary-
    join shape, cost |vocab|·rounds + one corpus join) with a single
    per-language aggregate; ratios are single divisions of exact
    integer sums."""
    d = load_table(spark, sf_dir, "documents")
    enc = B.bpe_encode_counts_incremental(
        d, "doc_id", "text", rounds=4, window=32
    )
    meta = d.select("doc_id", "lang", F.length("text").alias("__nc"))
    return (
        enc.join(meta, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__nc").cast("long").alias("n_chars"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            round4(
                F.sum("__nc") / F.sum("n_bpe_tokens")
            ).alias("chars_per_token"),
            round4(
                F.sum("n_bpe_tokens") / F.sum("n_words")
            ).alias("tokens_per_word"),
        )
    )


# ---------------------------------------------------------------------------
# hard-negative mining for retrieval training

_HN_QMOD = 50  # query set: doc_id hash-sampled at 1/50
_HN_SALT = "hn1"
_HN_K = 3
_HN_NEARDUP = 0.8  # exclude candidates this jaccard-close (false negs)
_HN_IDF_Q = 1_000_000  # integer idf weight: floor(Q / df)


@query(
    "hard_negatives",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {D.shingles_sql('text')} AS __sh FROM documents
    ),
    posts AS (
        SELECT doc_id, len(__sh) AS __n, unnest(__sh) AS __w FROM base
    ),
    dfreq AS (
        SELECT __w, count(*) AS df FROM posts GROUP BY 1
    ),
    qposts AS (
        SELECT * FROM posts
        WHERE {md5_mod_sql('doc_id', _HN_QMOD, salt=_HN_SALT)} = 0
    ),
    pairs AS (
        SELECT q.doc_id AS q_id, d.doc_id AS neg_id,
               q.__n AS qn, d.__n AS dn,
               count(*) AS common,
               sum({_HN_IDF_Q} // f.df) AS score
        FROM qposts q
        JOIN posts d ON q.__w = d.__w AND q.doc_id <> d.doc_id
        JOIN dfreq f ON f.__w = q.__w
        GROUP BY 1, 2, 3, 4
    ),
    eligible AS (
        SELECT q_id, neg_id, cast(score AS bigint) AS score,
               {round4_sql('common / (qn + dn - common)')} AS jaccard
        FROM pairs
        WHERE {round4_sql('common / (qn + dn - common)')} < {_HN_NEARDUP}
    )
    SELECT q_id, neg_id, score, jaccard FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY score DESC, neg_id
        ) AS __rn
        FROM eligible
    ) WHERE __rn <= {_HN_K}
    """,
    tags=["llm-retrieval", "W3"],
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for each
    query document (deterministic 1/{qmod} hash subset), the top-{k}
    lexically-closest OTHER documents by integer idf-weighted token
    overlap — EXCLUDING near-duplicates (jaccard ≥ {nd}), which would
    be false negatives that poison contrastive training.

    One postings join computes both the overlap score and the exact
    jaccard from the same counted row (no second pair pass); work is
    Σ posting · query-posting, bounded by the query subset size. The
    per-query top-k is a keyed window, never a global sort."""
    from pyspark.sql import Window

    d = _spread(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id", D.shingles(F.col("text")).alias("__sh")
    ).withColumn("__n", F.size("__sh"))
    posts = base.select("doc_id", "__n", F.explode("__sh").alias("__w"))
    dfreq = (
        posts.groupBy("__w")
        .agg(F.count("*").alias("df"))
        .select(F.col("__w").alias("__dw"), "df")
    )
    qposts = posts.filter(
        md5_mod(F.col("doc_id"), _HN_QMOD, salt=_HN_SALT) == 0
    )
    q, dd = qposts.alias("hq"), posts.alias("hd")
    pairs = (
        q.join(
            dd,
            (F.col("hq.__w") == F.col("hd.__w"))
            & (F.col("hq.doc_id") != F.col("hd.doc_id")),
        )
        .join(dfreq, F.col("hq.__w") == F.col("__dw"))
        .groupBy(
            F.col("hq.doc_id").alias("q_id"),
            F.col("hd.doc_id").alias("neg_id"),
            F.col("hq.__n").alias("qn"),
            F.col("hd.__n").alias("dn"),
        )
        .agg(
            F.count("*").alias("common"),
            F.sum(F.expr(f"{_HN_IDF_Q} div df")).cast("long").alias(
                "score"
            ),
        )
    )
    jac = round4(
        F.col("common") / (F.col("qn") + F.col("dn") - F.col("common"))
    )
    eligible = (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") < _HN_NEARDUP)
        .select("q_id", "neg_id", "score", "jaccard")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("neg_id").asc()
    )
    return (
        eligible.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _HN_K)
        .drop("__rn")
    )


hard_negatives.__doc__ = (
    hard_negatives.__doc__.replace("{qmod}", str(_HN_QMOD))
    .replace("{k}", str(_HN_K))
    .replace("{nd}", str(_HN_NEARDUP))
)


# ---------------------------------------------------------------------------
# distributed logistic regression (Newton/IRLS, one aggregate per step)

_LOGIT_Y_MIN_TOKENS = 50  # label: doc has ≥ 50 whitespace tokens
_LOGIT_ITERS = 10
#: per-row L2 strength: λ = 0.01·n. Proportional-to-n shrinkage keeps
#: the optimum β moderate on (near-)separable data, where a weak
#: absolute penalty lets β inflate and Newton crawl through sigmoid
#: saturation — measured: converges in 6 steps at every test SF with
#: training accuracy ≈ 0.96 (floor margin 0.93 even at 2× shrinkage)
_LOGIT_L2_PER_ROW = 0.01


@query(
    "logistic_fit",
    oracle=f"""
    SELECT cast(count(*) AS bigint) AS n_docs,
           cast(count(*) FILTER ({X.token_count_sql('text')}
                                 >= {_LOGIT_Y_MIN_TOKENS}) AS bigint)
               AS n_pos,
           true AS converged, true AS acc_ge_090
    FROM documents
    """,
    tags=["llm-model-fit", "A1", "iterative"],
)
def logistic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge-logistic classifier (predict "long document": token count
    ≥ 50 from character count) trained by Newton/IRLS where EVERY
    iteration is ONE map-side-combined aggregate: with β broadcast as
    literals, each doc contributes x·(y−μ) and μ(1−μ)·x xᵀ, and the
    driver solves a 2×2 system on the 5 returned floats. The 100-TB
    GLM shape: iterations touch the corpus once each, driver state is
    O(d²).

    Float seams follow the ``ridge_fit`` grading pattern: checked
    columns are exact integer class counts plus wide-margin booleans
    (Newton converged; training accuracy ≥ 0.9 on a feature with
    ~0.998 label correlation) that numeric noise cannot flip; β stays
    out of the checked output."""
    d = load_table(spark, sf_dir, "documents").select(
        (F.length("text").cast("double") / 100.0).alias("x1"),
        (X.token_count(F.col("text")) >= _LOGIT_Y_MIN_TOKENS)
        .cast("double").alias("y"),
    )
    d = d.persist()
    try:
        beta = [0.0, 0.0]
        converged = False
        for _ in range(_LOGIT_ITERS):
            eta = F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1")
            mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
            w = mu * (F.lit(1.0) - mu) + F.lit(1e-9)
            r = d.agg(
                F.count("*").alias("n"),
                F.sum(F.col("y") - mu).alias("g0"),
                F.sum((F.col("y") - mu) * F.col("x1")).alias("g1"),
                F.sum(w).alias("h00"),
                F.sum(w * F.col("x1")).alias("h01"),
                F.sum(w * F.col("x1") * F.col("x1")).alias("h11"),
            ).collect()[0]  # 6 numbers: metadata-sized by construction
            lam = _LOGIT_L2_PER_ROW * r["n"]
            g0 = r["g0"] - lam * beta[0]
            g1 = r["g1"] - lam * beta[1]
            h00, h01, h11 = (
                r["h00"] + lam, r["h01"], r["h11"] + lam,
            )
            det = h00 * h11 - h01 * h01
            d0 = (h11 * g0 - h01 * g1) / det
            d1 = (h00 * g1 - h01 * g0) / det
            beta = [beta[0] + d0, beta[1] + d1]
            if abs(d0) + abs(d1) < 1e-6 * (1.0 + abs(beta[0]) + abs(beta[1])):
                converged = True
                break
        eta = F.lit(beta[0]) + F.lit(beta[1]) * F.col("x1")
        acc_row = d.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("y")).cast("long").alias("n_pos"),
            F.sum(
                F.when((eta > 0) == (F.col("y") > 0.5), 1).otherwise(0)
            ).cast("long").alias("n_right"),
        ).collect()[0]
    finally:
        d.unpersist()
    acc_ok = acc_row["n_right"] >= 0.9 * acc_row["n_docs"]
    return local_df(spark, 
        [(acc_row["n_docs"], acc_row["n_pos"], bool(converged),
          bool(acc_ok))],
        "n_docs bigint, n_pos bigint, converged boolean, "
        "acc_ge_090 boolean",
    )


# ---------------------------------------------------------------------------
# sample-trained BPE (VERDICT r9 item 4)

#: deterministic training-sample predicate shared with the oracle
_BPE_SAMPLE_FRAC, _BPE_SAMPLE_SALT = 0.25, "bpesample"


@query(
    "bpe_vocab_sampled",
    oracle=B.bpe_vocab_sampled_sql(
        "documents", "text",
        hash_sample_sql("doc_id", _BPE_SAMPLE_FRAC,
                        salt=_BPE_SAMPLE_SALT),
        rounds=4, window=32,
    ),
    tags=["llm-bpe", "A1"],
)
def bpe_vocab_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-trained BPE — the economics real tokenizer training
    uses (GPT-2/SentencePiece train on a corpus SAMPLE, then encode
    everything): merges learn on a deterministic 25% md5 hash-sample
    of documents (``hash_sample`` — partitioning-independent, twin
    filters the identical predicate), and the FULL corpus's
    distinct-word table is segmented with the learned merge list
    (``segment_words`` — patterns, not a word lookup, so out-of-sample
    words merge correctly). Training cost is bounded by the SAMPLE
    (the trainer's per-round aggregations run on the sample's word
    table); full-corpus cost is one word-count shuffle plus
    vocabulary-sized column ops — the same split that cut PQ codebook
    training 18× (``pq_ann_sampled``). Returns the full-corpus
    (symbol, n_occurrences) vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    sample = d.filter(
        hash_sample(F.col("doc_id"), _BPE_SAMPLE_FRAC,
                    salt=_BPE_SAMPLE_SALT))
    learned, _w, _used = B.bpe_train_incremental(
        sample, "text", rounds=4, window=32)
    wc = B.word_counts(d, "text")
    seg = B.segment_words(wc, [p for p, _c in learned])
    return (
        seg.select(
            "wc", F.explode(F.split(F.col("sp"), " +")).alias("symbol")
        )
        .groupBy("symbol")
        .agg(F.sum("wc").cast("bigint").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# Count-Min sketch point frequencies (sketch family: MG candidates,
# KMV distinct/overlap, CM point counts)


@query(
    "cm_sketch_counts",
    oracle=f"""
    WITH {FQ.cm_cells_sql(
        f"SELECT unnest({X.tokens_sql('text')}) AS token FROM documents",
        "token")},
    __exact AS MATERIALIZED (
        SELECT token, cast(count(*) AS bigint) AS exact_n
        FROM __cmsrc GROUP BY 1
    ),
    __tot AS (SELECT sum(exact_n) AS n FROM __exact),
    {FQ.cm_estimate_sql(
        "SELECT token FROM __exact CROSS JOIN __tot "
        "WHERE exact_n * 200 >= n", "token")}
    SELECT e.token, x.exact_n, e.cm_est,
           e.cm_est >= x.exact_n AS never_underestimates
    FROM __cmest e JOIN __exact x USING (token)
    """,
    tags=["llm-sketch", "A1", "J1"],
)
def cm_sketch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimation (Cormode & Muthukrishnan
    2005) with the exact recount as the audit column: token counts
    fold into a 4×1024 MERGEABLE cell table (one map-side-combined
    shuffle, bounded state — shard sketches add cell-wise), then the
    corpus's ≥0.5%-frequency tokens are probed and every estimate
    must sit at or above its true count (CM never underestimates —
    pinned by the oracle's boolean column). The exact pass exists for
    the GATE; a 100 TB run keeps only the 4096 cells, the same
    audit-drops-at-scale contract as ``kmv_overlap``."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(X.tokens(F.col("text"))).alias("token"))
    cells = FQ.cm_cells(toks, "token")
    exact = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("exact_n")
    )
    total = exact.agg(F.sum("exact_n").alias("__n"))
    probes = (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("exact_n") * 200 >= F.col("__n"))
        .select("token")
    )
    est = FQ.cm_estimate(cells, probes, "token")
    return est.join(exact, "token").select(
        "token",
        "exact_n",
        "cm_est",
        (F.col("cm_est") >= F.col("exact_n"))
        .alias("never_underestimates"),
    )


# ---------------------------------------------------------------------------
# full tokenization output (token sequences, not just counts)


@query(
    "bpe_tokenize_docs",
    oracle=f"""
    WITH {', '.join(B._incremental_ctes('documents', 'text', 4, 32))},
    __tk AS (
        SELECT doc_id, {X.tokens_sql('text')} AS tk FROM documents
    ),
    __dw AS (
        SELECT doc_id, unnest(generate_series(1, len(tk))) AS wpos, tk
        FROM __tk
    ),
    __seg AS (
        SELECT d.doc_id, d.wpos,
               array_to_string(
                   regexp_split_to_array(w.sp, ' +'), ' ') AS syms,
               len(regexp_split_to_array(w.sp, ' +')) AS n
        FROM (SELECT doc_id, wpos, tk[wpos] AS word FROM __dw) d
        JOIN __iw4 w USING (word)
    ),
    __docs AS (
        SELECT doc_id,
               cast(sum(n) AS bigint) AS n_tokens,
               string_agg(syms, ' ' ORDER BY wpos) AS bpe_tokens
        FROM __seg GROUP BY 1
    )
    SELECT t.doc_id,
           cast(coalesce(d.n_tokens, 0) AS bigint) AS n_tokens,
           coalesce(d.bpe_tokens, '') AS bpe_tokens
    FROM documents t LEFT JOIN __docs d USING (doc_id)
    """,
    tags=["llm-bpe", "W5", "J1"],
)
def bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL tokenization output — the actual per-document BPE token
    SEQUENCE (space-joined subword symbols in document order), not
    just counts: what a training-data writer materializes before
    packing. Same scale shape as the encode-counts path (the merge
    chain touches only the distinct-word table; documents equi-join
    their positional words against it), plus one per-doc ordered
    reassembly — ``sort_array(collect_list(struct(pos, syms)))``, a
    single aggregate, no window. Symbols never contain spaces, so the
    joined string is a lossless rendering both engines produce
    byte-identically."""
    d = load_table(spark, sf_dir, "documents")
    _learned, w, _used = B.bpe_train_incremental(
        d, "text", rounds=4, window=32)
    vocab = w.select(
        "word",
        F.regexp_replace(F.trim(F.col("sp")), " +", " ").alias("__syms"),
        F.size(F.split(F.col("sp"), " +")).cast("long").alias("__n"),
    )
    docw = d.select(
        "doc_id",
        F.posexplode(X.tokens(F.col("text"))).alias("__wpos", "word"),
    )
    seg = docw.join(vocab, "word")
    per_doc = (
        seg.groupBy("doc_id")
        .agg(
            F.sum("__n").cast("bigint").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(F.col("__wpos"), F.col("__syms"))
                        )
                    ),
                    lambda s: s["__syms"],
                ),
                " ",
            ).alias("bpe_tokens"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint")
            .alias("n_tokens"),
            F.coalesce("bpe_tokens", F.lit("")).alias("bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# JSONL corpus round-trip: the interchange format LLM corpora ship in


@query(
    "jsonl_scan",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    tags=["source-jsonl", "S1", "P2"], headline=True,
)
def jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink round-trip gate (sources/jsonl.py): the
    documents table is written as gzip'd JSONL shards (the layout
    public LLM corpora — Pile/RedPajama/Dolma — actually publish),
    three malformed lines are injected as an extra plain-text shard,
    and the read-back must equal the parquet source of truth exactly
    (JSON string escaping, long round-trip, codec handling, malformed-
    line dropping all on the line). The oracle reads the parquet view
    directly — same trust shape as ``bucketed_join_agg``'s write/read
    gate. Scale rules proven here: schema DECLARED (no inference pass
    — at 100 TB schema inference is a second full scan), malformed
    lines dropped AT the scan (``DROPMALFORMED``), parallelism from
    shard count (each .json.gz is one split)."""
    import os

    from dbt_tpcdi_spark.queries import fixture_root
    from dbt_tpcdi_spark.sources import jsonl as J

    root = fixture_root(sf_dir, "jsonl_scan")
    d = load_table(spark, sf_dir, "documents")
    J.write_jsonl(d, root, compression="gzip", shards=4)
    # an extra plain shard of garbage: a crawl always has broken lines
    with open(os.path.join(root, "corrupt-extra.json"), "w") as fh:
        fh.write('{"doc_id": 1, "text": "unterminated\n')
        fh.write("not json at all\n")
        fh.write("\n")
    return J.read_jsonl(spark, root, d.schema).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# WordPiece: the third tokenizer family (greedy longest-match subwords)

#: shared tokenization base for every tokenizer oracle: documents →
#: token list → (doc_id, pos, word) occurrences → weighted word table
_TOK_BASE_CTES = f"""tk AS (
        SELECT doc_id, {X.tokens_sql('text')} AS tk FROM documents
    ),
    occ AS (
        SELECT doc_id, i AS pos, tk[i] AS word
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
              FROM tk)
    ),
    wc AS (SELECT word, count(*) AS n FROM occ GROUP BY 1)"""


def _wp_chain_ctes(vocab_wc: str = "wc", extra_ctes: str = "") -> str:
    """WordPiece CTE chain (vocab derivation → greedy walk →
    ``per_word``), expecting ``_TOK_BASE_CTES`` in scope. ``vocab_wc``
    names the (word, n) CTE the VOCABULARY derives from (``wc`` = the
    full corpus; inject a filtered CTE via ``extra_ctes`` for
    base-trained variants); matching/segmentation always runs over
    ALL words."""
    return f"""{extra_ctes}
    wposv AS (
        SELECT word, n, unnest(range(1, length(word) + 1)) AS p
        FROM {vocab_wc}
    ),
    wpos AS (
        SELECT word, unnest(range(1, length(word) + 1)) AS p
        FROM wc
    ),
    sub AS (
        SELECT substr(word, cast(p AS int), cast(l AS int)) AS form,
               p > 1 AS cont, n
        FROM (SELECT word, n, p,
                     unnest(range(1, least({W.WP_MAX_PIECE},
                                  length(word) - p + 1) + 1)) AS l
              FROM wposv)
    ),
    vagg AS (SELECT form, cont, sum(n) AS wt FROM sub GROUP BY 1, 2),
    chars AS (SELECT DISTINCT form, cont FROM vagg
              WHERE length(form) = 1),
    multi AS (
        SELECT form, cont FROM (
            SELECT form, cont,
                   row_number() OVER (ORDER BY wt DESC, cont, form)
                       AS rn
            FROM vagg WHERE length(form) >= 2
        ) WHERE rn <= {W.WP_TOPK}
    ),
    vocab AS (SELECT form, cont FROM chars
              UNION ALL SELECT form, cont FROM multi),
    best AS (
        SELECT w.word, w.p AS pos, max(length(v.form)) AS bl
        FROM wpos w JOIN vocab v
          ON v.cont = (w.p > 1)
         AND length(v.form) <= length(w.word) - w.p + 1
         AND substr(w.word, cast(w.p AS int), length(v.form))
             = v.form
        GROUP BY 1, 2
    ),
    seg AS (
        SELECT w.word, cast(1 AS bigint) AS k,
               CASE WHEN b.bl IS NULL THEN '{W.WP_UNK}'
                    ELSE substr(w.word, 1, b.bl) END AS piece,
               CASE WHEN b.bl IS NULL THEN cast(2 AS bigint)
                    ELSE 1 + b.bl END AS nxt
        FROM wc w LEFT JOIN best b ON b.word = w.word AND b.pos = 1
        UNION ALL
        SELECT s.word, s.k + 1,
               CASE WHEN b.bl IS NULL THEN '{W.WP_UNK}'
                    ELSE '##' || substr(s.word, cast(s.nxt AS int),
                                        b.bl) END,
               CASE WHEN b.bl IS NULL THEN s.nxt + 1
                    ELSE s.nxt + b.bl END
        FROM seg s LEFT JOIN best b
          ON b.word = s.word AND b.pos = s.nxt
        WHERE s.nxt <= length(s.word)
    ),
    per_word AS (
        SELECT word, string_agg(piece, ' ' ORDER BY k) AS wp,
               cast(count(*) AS bigint) AS n_pieces,
               cast(sum(CASE WHEN piece = '{W.WP_UNK}' THEN 1
                             ELSE 0 END) AS bigint) AS n_unk
        FROM seg GROUP BY 1
    )"""


def _wp_oracle(vocab_wc: str = "wc", extra_ctes: str = "") -> str:
    return f"""
    WITH RECURSIVE {_TOK_BASE_CTES},
    {_wp_chain_ctes(vocab_wc, extra_ctes)}
    SELECT o.doc_id, cast(count(*) AS bigint) AS n_words,
           cast(sum(p.n_pieces) AS bigint) AS n_pieces,
           cast(sum(p.n_unk) AS bigint) AS n_unk,
           md5(string_agg(p.wp, ' ' ORDER BY o.pos)) AS pieces_fp
    FROM occ o JOIN per_word p USING (word)
    GROUP BY 1
    """


@query(
    "wordpiece_encode",
    oracle=_wp_oracle(),
    tags=["llm-tokenize", "W3", "A1", "J1"], headline=True,
)
def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece (BERT) greedy longest-match subword encoding of the
    corpus against a corpus-derived vocabulary (operators/
    wordpiece.py) — the tokenizer family BPE's merge chain doesn't
    cover: segmentation needs no training-order state, just the piece
    set, so the vocabulary is ONE weighted-substring top-K and
    encoding is longest-match per position with ``##`` continuation
    marks. Corpus-sized work stays declarative (posexplode, one
    equi-join on word, per-doc aggregate); the greedy matcher runs
    Arrow-batched over the DISTINCT-WORD table (vocabulary-sized —
    Heaps' law — at any corpus size) with the bounded vocab broadcast.
    The DuckDB twin re-derives the identical vocabulary and walks the
    identical greedy segmentation as a recursive CTE over the
    precomputed best-match table (greedy choice at (word, pos) is
    path-independent, so the walk linearizes); per-doc piece sequences
    are compared by md5 fingerprint in document order."""
    d = load_table(spark, sf_dir, "documents")
    occ = _spread(d).select(
        "doc_id",
        F.posexplode(X.tokens(F.col("text"))).alias("pos", "word"),
    )
    # the word table is vocabulary-sized (Heaps' law) but has THREE
    # consumers (vocab derivation, vocab collect, encode) — checkpoint
    # it so the corpus tokenize runs once for them, not once each
    # (same one-fewer-full-scan move as heavy_hitters)
    wc = occ.groupBy("word").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    enc = W.wp_encode_words(wc, W.wp_vocab(wc))
    return (
        occ.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_unk").cast("long").alias("n_unk"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("pos"), F.col("wp"))
                            )
                        ),
                        lambda s: s["wp"],
                    ),
                    " ",
                )
            ).alias("pieces_fp"),
        )
    )


# ---------------------------------------------------------------------------
# mergeable quantile sketch (bottom-k-by-hash order statistics)

_QS_H_SQL = X.md5_60bit_sql(
    f"'{FQ.QS_SALT}' || cast(o_orderkey AS varchar)")
_QS_V_SQL = "cast(floor(o_totalprice * 100 + 0.5) AS bigint)"
#: DKW audit margin, integer form (see quantile_sketch docstring):
#: with ε² = ln(2/0.01)/(2m) ≈ 2.65/m, the inflated margin
#: (ε + 1/m)² ≤ 2ε² + 2/m² ≤ 5.3/m + 2/m² bounds err = D/(1000·n),
#: and err² ≤ 5.3/m + 2/m² ⟺ 10·(D·m)² ≤ 5.3e7·n²·m + 2e7·n² — exact
#: integer/decimal arithmetic, no cross-engine ln/sqrt anywhere.
_QS_BOUND = ("{d} <= 0 OR 10 * ({d} * md) * ({d} * md) "
             "<= 53000000 * nd * nd * md + 20000000 * nd * nd")
_QS_WITHIN = (f"(({_QS_BOUND.format(d='dlo')}) "
              f"AND ({_QS_BOUND.format(d='dhi')}))")


def qs_orders_values(o: DataFrame) -> DataFrame:
    """(o_orderkey, v) projection shared by the batch sketch, its
    audit, AND the streaming variant — one definition (matching
    ``_QS_V_SQL``) so the batch/stream bit-parity gate cannot drift
    when the value expression changes."""
    return o.select(
        "o_orderkey",
        F.expr(f"{_QS_V_SQL}").alias("v"),
    )


def _qs_components(spark: SparkSession, sf_dir: str):
    o = qs_orders_values(load_table(spark, sf_dir, "orders"))
    sk = FQ.qs_sketch(o, "o_orderkey", "v")
    return o, FQ.qs_estimates(sk)


@query(
    "quantile_sketch",
    oracle=f"""
    WITH {FQ.qs_sketch_sql('orders', _QS_H_SQL, _QS_V_SQL)},
    {FQ.qs_estimates_sql()},
    aud AS (
        SELECT e.q_pm, e.est_v, e.n_sample,
               sum(CASE WHEN t.v < e.est_v THEN 1 ELSE 0 END)
                   AS cnt_lt,
               sum(CASE WHEN t.v <= e.est_v THEN 1 ELSE 0 END)
                   AS cnt_le,
               count(*) AS n
        FROM __qsest e, __qsth t
        GROUP BY 1, 2, 3
    ),
    chk AS (
        SELECT q_pm, est_v, n_sample,
               cast(1000 * cnt_lt - q_pm * n AS decimal(38,0)) AS dlo,
               cast(q_pm * n - 1000 * cnt_le AS decimal(38,0)) AS dhi,
               cast(n AS decimal(38,0)) AS nd,
               cast(n_sample AS decimal(38,0)) AS md
        FROM aud
    )
    SELECT q_pm, est_v, n_sample, {_QS_WITHIN} AS within_dkw
    FROM chk
    """,
    tags=["llm-sketch", "A1", "W3"],
)
def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/frequent.qs_sketch):
    bottom-k rows BY SALTED KEY HASH are a uniform random k-subset, so
    sample order statistics estimate any quantile with the DKW
    sup-norm guarantee — and unlike ``approx_percentile`` (whose
    GK summary bytes can't cross engines) every step is deterministic
    integer math, so the DuckDB twin reproduces sketch AND estimates
    bit for bit. Mergeability is KMV's: bottom-k of a union = bottom-k
    of concatenated shard sketches, so a 100 TB run sketches shards
    independently and combines 256-row results. The audit columns
    recount the estimate's true rank from the full table (gate-only,
    dropped at scale like KMV's audit) and pin the DKW bound with the
    integer inequality in ``_QS_BOUND`` — no ln/sqrt floats anywhere.
    ``within_dkw`` must be uniformly true: the gate fails loudly if
    the sketch's accuracy contract breaks."""
    o, est = _qs_components(spark, sf_dir)
    aud = (
        o.crossJoin(F.broadcast(est))
        .groupBy("q_pm", "est_v", "n_sample")
        .agg(
            F.sum(F.when(F.col("v") < F.col("est_v"), 1).otherwise(0))
            .alias("cnt_lt"),
            F.sum(F.when(F.col("v") <= F.col("est_v"), 1).otherwise(0))
            .alias("cnt_le"),
            F.count("*").alias("n"),
        )
    )
    chk = aud.select(
        "q_pm",
        "est_v",
        "n_sample",
        F.expr("cast(1000 * cnt_lt - q_pm * n AS decimal(38,0))")
        .alias("dlo"),
        F.expr("cast(q_pm * n - 1000 * cnt_le AS decimal(38,0))")
        .alias("dhi"),
        F.expr("cast(n AS decimal(38,0))").alias("nd"),
        F.expr("cast(n_sample AS decimal(38,0))").alias("md"),
    )
    return chk.select(
        "q_pm", "est_v", "n_sample",
        F.expr(_QS_WITHIN).alias("within_dkw"),
    )


@query(
    "quantile_sketch_serving",
    oracle=f"""
    WITH {FQ.qs_sketch_sql('orders', _QS_H_SQL, _QS_V_SQL)},
    {FQ.qs_estimates_sql()}
    SELECT q_pm, est_v, n_sample FROM __qsest
    """,
    tags=["llm-sketch", "A1", "W3"], headline=True,
)
def quantile_sketch_serving(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The sketch-only quantile SERVING plan: identical estimates to
    ``quantile_sketch`` without the full-table rank audit — ONE scan
    of orders, bounded windows (≤ B·k then ≤ k rows), one broadcast
    join of the 6-row probe table. The audited twin stays the
    accuracy gate; this is the plan a 100 TB run executes (plan
    pinned single-scan in tests/test_plan_properties.py)."""
    _, est = _qs_components(spark, sf_dir)
    return est


# ---------------------------------------------------------------------------
# unigram-LM (SentencePiece-init) Viterbi segmentation

_UNI_PICK = ("list_max(list_transform(list_filter(c.cands, "
             "x -> u.bests[u.j - x.l + 1] + x.sc = u.bests[u.j + 1]), "
             "x -> x.l))")

def _uni_chain_ctes(
    vocab_wc: str = "SELECT word, n FROM wc",
    words_src: str = "SELECT word FROM __unwc",
) -> str:
    """Unigram CTE chain (vocab scores → Viterbi DP → backtrace →
    ``__unword``), expecting ``_TOK_BASE_CTES`` in scope.
    ``vocab_wc`` names the (word, n) source the VOCABULARY derives
    from; ``words_src`` the words that get ENCODED — they differ in
    the persisted-artifact variant (vocab from the base split, encode
    over the whole corpus)."""
    return f"""{U.uni_vocab_sql(vocab_wc)},
    __unencw AS MATERIALIZED ({words_src}),
    __untot AS (
        SELECT {U.qlog2_sql('cast(sum(wt) AS bigint)')} AS qt
        FROM __unvocab
    ),
    __unscore AS (
        SELECT form, {U.qlog2_sql('wt')} - t.qt AS sc
        FROM __unvocab, __untot t
    ),
    __uncand AS (
        SELECT w.word, w.p AS pos,
               list(struct_pack(l := length(v.form), sc := v.sc))
                   AS cands
        FROM (SELECT word, unnest(range(1, length(word) + 1)) AS p
              FROM __unencw) w
        JOIN __unscore v
          ON length(v.form) <= w.p
         AND substr(w.word,
                    cast(w.p - length(v.form) + 1 AS int),
                    length(v.form)) = v.form
        GROUP BY 1, 2
    ),
    __undp AS (
        SELECT word, 0 AS p, [cast(0 AS bigint)] AS bests
        FROM __unencw
        UNION ALL
        SELECT d.word, d.p + 1,
               list_append(d.bests,
                   list_max(list_transform(c.cands,
                       x -> d.bests[d.p + 2 - x.l] + x.sc)))
        FROM __undp d JOIN __uncand c
          ON c.word = d.word AND c.pos = d.p + 1
        WHERE d.p < length(d.word)
    ),
    __unfin AS (
        SELECT word, bests FROM __undp WHERE p = length(word)
    ),
    __unwalk AS (
        SELECT word, length(word) AS j, bests, '' AS acc,
               cast(0 AS bigint) AS np
        FROM __unfin
        UNION ALL
        SELECT u.word, u.j - {_UNI_PICK}, u.bests,
               substr(u.word,
                      cast(u.j - {_UNI_PICK} + 1 AS int),
                      cast({_UNI_PICK} AS int))
                 || CASE WHEN u.acc = '' THEN ''
                         ELSE ' ' || u.acc END,
               u.np + 1
        FROM __unwalk u JOIN __uncand c
          ON c.word = u.word AND c.pos = u.j
        WHERE u.j > 0
    ),
    __unword AS (
        SELECT word, acc AS pieces, np AS n_pieces,
               bests[length(word) + 1] AS score
        FROM __unwalk WHERE j = 0
    )"""


#: the shared-source chain (vocab and encode words both from ``wc``)
_UNI_CHAIN_CTES = _uni_chain_ctes()

_UNI_ORACLE = f"""
    WITH RECURSIVE {_TOK_BASE_CTES},
    {_UNI_CHAIN_CTES}
    SELECT o.doc_id, cast(count(*) AS bigint) AS n_words,
           cast(sum(p.n_pieces) AS bigint) AS n_pieces,
           cast(sum(p.score) AS bigint) AS score,
           md5(string_agg(p.pieces, ' ' ORDER BY o.pos)) AS pieces_fp
    FROM occ o JOIN __unword p USING (word)
    GROUP BY 1
    """


@query(
    "unigram_encode",
    oracle=_UNI_ORACLE,
    tags=["llm-tokenize", "W3", "A1", "J1"],
    headline=True,
)
def unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-init) Viterbi segmentation of the
    corpus (operators/unigram.py) — the DP tokenizer family next to
    BPE's merge chain and WordPiece's greedy matcher: each word takes
    the MAX-SCORE segmentation under count-derived piece scores, with
    libm-free integer qlog2 scoring so the DuckDB twin reproduces
    every DP cell bit for bit (the twin runs the identical Viterbi as
    a recursive CTE carrying the best-score list, then replays the
    identical longest-piece-on-tie backtrace). Corpus-sized work stays
    declarative; the DP is Arrow-batched over the distinct-word table
    with the bounded scored vocabulary broadcast."""
    d = load_table(spark, sf_dir, "documents")
    occ = _spread(d).select(
        "doc_id",
        F.posexplode(X.tokens(F.col("text"))).alias("pos", "word"),
    )
    # vocabulary-sized, three consumers: checkpoint (see
    # wordpiece_encode)
    wc = occ.groupBy("word").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    enc = U.uni_encode_words(wc, U.uni_vocab(wc))
    return (
        occ.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("score").cast("long").alias("score"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("pos"),
                                         F.col("pieces"))
                            )
                        ),
                        lambda s: s["pieces"],
                    ),
                    " ",
                )
            ).alias("pieces_fp"),
        )
    )


# ---------------------------------------------------------------------------
# MMR diverse top-k selection (greedy submodular maximization)

_MMR_K = 8


def _mmr_oracle(k: int = _MMR_K) -> str:
    """Unrolled k-step greedy MMR in DuckDB: step N's candidate scores
    exclude and penalize against the union of steps 1..N−1 — the same
    greedy the Spark loop runs, re-derived independently."""
    from dbt_tpcdi_spark.operators.similarity import qdot_sql

    rel = qdot_sql("e.embedding", "q.qv")
    sim = qdot_sql("b.embedding", "s.embedding")
    parts = [
        f"""q AS (SELECT embedding AS qv FROM embeddings
                  WHERE vec_id = 0),
    base AS MATERIALIZED (
        SELECT e.vec_id, e.embedding, {rel} AS rel
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, cast(1 AS bigint) AS step,
               cast(2 * rel AS bigint) AS score
        FROM base ORDER BY 2 * rel DESC, vec_id LIMIT 1
    )"""
    ]
    for n in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{i}" for i in range(1, n)
        )
        parts.append(
            f"""pick{n} AS MATERIALIZED (
        SELECT b.vec_id,
               cast(2 * b.rel - max({sim}) AS bigint) AS score
        FROM base b JOIN embeddings s
          ON s.vec_id IN ({prev})
        WHERE b.vec_id NOT IN ({prev})
        GROUP BY b.vec_id, b.rel
    ),
    sel{n} AS MATERIALIZED (
        SELECT vec_id, cast({n} AS bigint) AS step, score
        FROM pick{n} ORDER BY score DESC, vec_id LIMIT 1
    )"""
        )
    union = " UNION ALL ".join(
        f"SELECT step, vec_id, score FROM sel{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + union


@query(
    "mmr_select",
    oracle=_mmr_oracle(),
    tags=["llm-sampling", "llm-ann-brute", "A1", "O1"],
)
def mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein
    1998) — greedy submodular selection: each step takes the candidate
    maximizing ``2·rel(x) − max_{s∈S} sim(x, s)`` (λ = ½ in integer
    form; rel/sim are the exact quantized dot products the ANN surface
    uses), the selection shape training-data curation uses to pick
    exemplars that are relevant AND non-redundant — what plain top-k
    (``ann_topk``) cannot express because its objective ignores the
    selected set.

    Greedy is inherently sequential in k: the Spark side runs k
    bounded driver rounds (house rule: driver work is O(k) ids, like
    Lloyd/BPE), each ONE distributed argmax — a scan of the persisted
    (vec, rel) base joined against the ≤ k-row broadcast selected set,
    argmax via TakeOrdered(1). At 100 TB that is k scans, no pairwise
    candidate×candidate work anywhere. The DuckDB twin re-derives the
    full greedy as an unrolled k-step CTE chain."""
    from dbt_tpcdi_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    base = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            S.qdot(F.col("embedding"), F.col("qv")).alias("rel"),
        )
        .persist()
    )
    try:
        chosen: list[tuple[int, int, int]] = []  # (step, id, score)
        for step in range(1, _MMR_K + 1):
            ids = [c[1] for c in chosen]
            cand = base.filter(~F.col("vec_id").isin(ids)) if ids \
                else base
            if ids:
                sel = e.filter(F.col("vec_id").isin(ids)).select(
                    F.col("embedding").alias("sv")
                )
                scored = (
                    cand.crossJoin(F.broadcast(sel))
                    .groupBy("vec_id", "rel")
                    .agg(
                        F.max(
                            S.qdot(F.col("embedding"), F.col("sv"))
                        ).alias("__ms")
                    )
                    .select(
                        "vec_id",
                        (2 * F.col("rel") - F.col("__ms"))
                        .cast("long").alias("score"),
                    )
                )
            else:
                scored = cand.select(
                    "vec_id",
                    (2 * F.col("rel")).cast("long").alias("score"),
                )
            top = scored.orderBy(
                F.desc("score"), F.asc("vec_id")
            ).limit(1).collect()[0]
            chosen.append((step, int(top["vec_id"]),
                           int(top["score"])))
    finally:
        base.unpersist()
    return local_df(
        spark, chosen, "step bigint, vec_id bigint, score bigint"
    )


# ---------------------------------------------------------------------------
# grouped quantile sketch: per-source length distributions

_QSG_K = 64  # per-group sketch rows: small enough that sf0.1 (250
#              docs/source) actually exercises the sampling branch;
#              the smaller SFs' groups are sub-k (sketch == group,
#              estimates exact) — both branches live under one gate
_QSG_H_SQL = X.md5_60bit_sql(
    f"'{FQ.QS_SALT}' || cast(doc_id AS varchar)")


@query(
    "grouped_quantile_sketch",
    oracle=f"""
    WITH {FQ.qs_sketch_grouped_sql('documents', 'source', _QSG_H_SQL,
                                   'cast(n_chars AS bigint)',
                                   k=_QSG_K)},
    {FQ.qs_estimates_grouped_sql()},
    aud AS (
        SELECT e.g, e.q_pm, e.est_v, e.n_sample,
               sum(CASE WHEN cast(d.n_chars AS bigint) < e.est_v
                        THEN 1 ELSE 0 END) AS cnt_lt,
               sum(CASE WHEN cast(d.n_chars AS bigint) <= e.est_v
                        THEN 1 ELSE 0 END) AS cnt_le,
               count(*) AS n
        FROM __qsgest e JOIN documents d ON d.source = e.g
        GROUP BY 1, 2, 3, 4
    ),
    chk AS (
        SELECT g, q_pm, est_v, n_sample,
               cast(1000 * cnt_lt - q_pm * n AS decimal(38,0)) AS dlo,
               cast(q_pm * n - 1000 * cnt_le AS decimal(38,0)) AS dhi,
               cast(n AS decimal(38,0)) AS nd,
               cast(n_sample AS decimal(38,0)) AS md
        FROM aud
    )
    SELECT g AS source, q_pm, est_v, n_sample,
           {_QS_WITHIN} AS within_dkw
    FROM chk
    """,
    tags=["llm-sketch", "A1", "W3", "J1"],
)
def grouped_quantile_sketch(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles from GROUPED bottom-k
    sketches (operators/frequent.qs_sketch_grouped) — the dataset-card
    distribution panel at sketch cost: one partitioned window keeps a
    k-row uniform sample per source (N groups × k rows of state,
    group-parallel — never a global sort), per-group order statistics
    estimate the quantiles, and the same integer-form DKW bound as
    ``quantile_sketch`` audits every (source, q) cell. k = {k} is
    deliberately small so the large test SF exercises the SAMPLING
    branch while small SFs pin the exhaustive (sketch == group)
    branch under the identical gate."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.expr("cast(n_chars AS bigint)").alias("len"),
    )
    sk = FQ.qs_sketch_grouped(d, "source", "doc_id", "len", k=_QSG_K)
    est = FQ.qs_estimates_grouped(sk)
    aud = (
        d.join(F.broadcast(est), d["source"] == est["g"])
        .groupBy("g", "q_pm", "est_v", "n_sample")
        .agg(
            F.sum(F.when(F.col("len") < F.col("est_v"), 1)
                  .otherwise(0)).alias("cnt_lt"),
            F.sum(F.when(F.col("len") <= F.col("est_v"), 1)
                  .otherwise(0)).alias("cnt_le"),
            F.count("*").alias("n"),
        )
    )
    chk = aud.select(
        "g", "q_pm", "est_v", "n_sample",
        F.expr("cast(1000 * cnt_lt - q_pm * n AS decimal(38,0))")
        .alias("dlo"),
        F.expr("cast(q_pm * n - 1000 * cnt_le AS decimal(38,0))")
        .alias("dhi"),
        F.expr("cast(n AS decimal(38,0))").alias("nd"),
        F.expr("cast(n_sample AS decimal(38,0))").alias("md"),
    )
    return chk.select(
        F.col("g").alias("source"), "q_pm", "est_v", "n_sample",
        F.expr(_QS_WITHIN).alias("within_dkw"),
    )


grouped_quantile_sketch.__doc__ = grouped_quantile_sketch.__doc__ \
    .replace("{k}", str(_QSG_K))


@query(
    "orc_scan",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    tags=["source-orc", "S1", "P2"],
)
def orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip gate — the remaining columnar
    interchange format next to parquet (sources/parquet.py), JSONL
    (sources/jsonl.py), typed delimited, fixed-width FINWIRE, and XML:
    documents write as zlib ORC and must read back equal to the
    parquet source of truth. ORC scans get the same Catalyst
    treatment as parquet (column pruning, predicate pushdown into
    stripe/row-group min-max — ``spark.sql.orc.filterPushdown``
    defaults true in Spark 4), so at 100 TB the choice between them is
    an ecosystem question, not a plan-quality one."""
    from dbt_tpcdi_spark.queries import fixture_root

    root = fixture_root(sf_dir, "orc_scan")
    d = load_table(spark, sf_dir, "documents")
    d.write.mode("overwrite").option("compression", "zlib").orc(root)
    return spark.read.schema(d.schema).orc(root).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# per-source token-budget sampling ("give me ~B tokens per source")

_TB_BUDGET = 800  # tokens per source: truncates every source at all
#                   test SFs (each source carries ~2.3k tokens at
#                   sf0.001 and more above), so the budget edge is
#                   always exercised
_TB_SALT = "tokbudget:"


@query(
    "token_budget_sample",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               cast({X.token_count_sql('text')} AS bigint) AS w_tokens,
               md5('{_TB_SALT}' || cast(doc_id AS varchar)) AS h
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, w_tokens,
               cast(sum(w_tokens) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS UNBOUNDED PRECEDING) AS bigint) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, source, w_tokens, cum_tokens
    FROM c WHERE cum_tokens <= {_TB_BUDGET}
    """,
    tags=["llm-mixture-cap", "llm-sampling", "W3", "A1"],
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN-budget sampling — the mixture step sized in
    tokens, not documents (a UniMax cap counts docs;
    training budgets are tokens): keep each source's hash-order prefix
    whose running token total stays ≤ B. Deterministic
    (md5-order + integer token counts), so identical across engines,
    reruns, and cluster sizes.

    Scale shape — same two-pass bound as ``source_cap_sample_twopass``:
    pass 1 aggregates per-source token totals (metadata, broadcast
    back) and keeps only rows whose 20-bit md5-prefix bucket falls
    under a threshold sized to admit ~4·B token mass; bucket order is
    the string order's numeric prefix, so the survivor set is
    PREFIX-CLOSED under the full (h, doc_id) order and survivor
    running totals EQUAL whole-source running totals — the exact
    cumulative window then runs on O(B)-token survivor sets at ANY
    source size. Undercoverage (prefilter admitting < B tokens of a
    non-exhausted source) would shrink the output and fail the oracle
    gate — never silently approximate."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        X.token_count(F.col("text")).cast("long").alias("w_tokens"),
    )
    totals = d.groupBy("source").agg(
        F.sum("w_tokens").alias("__W")
    )
    bits = 1 << 20
    h = F.md5(
        F.concat(F.lit(_TB_SALT), F.col("doc_id").cast("string"))
    )
    bucket = F.conv(F.substring(h, 1, 5), 16, 10).cast("long")
    survivors = (
        d.join(F.broadcast(totals), "source")
        .filter(
            bucket
            < F.least(
                F.lit(bits).cast("long"),
                # greatest(__W, 1): a source whose every text is whitespace
                # has __W = 0; `div 0` yields NULL and the filter would drop
                # all of its docs, while the oracle keeps them (cum 0 <= B).
                # With divisor 1 the threshold saturates at `bits` (keep all).
                F.expr(f"({4 * _TB_BUDGET * bits} + __W - 1)"
                       " div greatest(__W, 1L)"),
            )
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy(h, F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        survivors.select(
            "doc_id",
            "source",
            "w_tokens",
            F.sum("w_tokens").over(w).cast("long")
            .alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _TB_BUDGET)
    )


# ---------------------------------------------------------------------------
# tokenizer as a PERSISTED artifact, applied without retraining

_WPP_SALT = "wpinc:"
_WPP_MOD = 5  # docs with md5 bucket != 0 (~80%) train the vocab


@query(
    "wordpiece_encode_persisted",
    oracle=_wp_oracle(
        vocab_wc="wcb",
        extra_ctes=f"""wcb AS (
        SELECT word, count(*) AS n FROM occ
        WHERE {md5_mod_sql('doc_id', _WPP_MOD, _WPP_SALT)} <> 0
        GROUP BY 1
    ),""",
    ),
    tags=["llm-tokenize", "S11", "W3", "A1"],
)
def wordpiece_encode_persisted(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The tokenizer as a PRODUCTION ARTIFACT: the WordPiece vocab is
    trained on the BASE corpus (the ~80% of docs in md5 buckets ≠ 0),
    committed to a VersionedTable, read back from the commit log, and
    applied to the WHOLE corpus — including the held-out "newly
    landed" 20% the vocabulary never saw. This is how tokenizers
    actually operate at 100 TB: trained once, versioned, applied to
    every new batch without retraining (retraining would change every
    historical token id). The oracle re-derives the base-trained
    vocabulary and encodes all documents with it, so the artifact
    round-trip (commit → snapshot read → broadcast) is value-gated,
    not just exercised."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable
    from dbt_tpcdi_spark.queries import fixture_root

    d = load_table(spark, sf_dir, "documents")
    occ = _spread(d).select(
        "doc_id",
        F.posexplode(X.tokens(F.col("text"))).alias("pos", "word"),
    )
    wc_all = occ.groupBy("word").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    wc_base = (
        occ.filter(
            md5_mod(F.col("doc_id"), _WPP_MOD, _WPP_SALT) != 0
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    root = fixture_root(sf_dir, "wpvocab")
    vt = VersionedTable(spark, root)
    vt.commit(W.wp_vocab(wc_base), op="train")
    vocab_stored = vt.read()
    enc = W.wp_encode_words(wc_all, vocab_stored)
    return (
        occ.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_unk").cast("long").alias("n_unk"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("pos"), F.col("wp"))
                            )
                        ),
                        lambda s: s["wp"],
                    ),
                    " ",
                )
            ).alias("pieces_fp"),
        )
    )


# ---------------------------------------------------------------------------
# persisted-artifact lifecycle for the OTHER two tokenizer families
# (VERDICT r11 item 3): BPE merge list and unigram vocabulary trained
# on the base split, committed to a VersionedTable, snapshot-read and
# applied to the whole corpus — the same production contract as
# wordpiece_encode_persisted, so all three families now share it

_BPEP_SALT = "bpep:"
_BPEP_MOD = 5
_BPEP_MERGES = 6


def _bpe_persisted_oracle() -> str:
    """Twin of ``bpe_encode_persisted``: the exact-sequential training
    CTEs (``_train_ctes`` — same tie-breaks as ``bpe_train_local``)
    run over the BASE split only, then the learned per-step pairs
    (``__t{i}`` scalars) replay in learned order over the FULL
    corpus's distinct-word table, and documents join their positional
    words against that segmentation."""
    base = (f"(SELECT * FROM documents "
            f"WHERE {md5_mod_sql('doc_id', _BPEP_MOD, _BPEP_SALT)} <> 0)")
    ctes = B._train_ctes(base, "text", _BPEP_MERGES)
    ctes.append(
        f"__fw0 AS MATERIALIZED (SELECT word, "
        f"{B.char_spaced_sql('word')} AS sp "
        "FROM wc)"
    )
    for i in range(_BPEP_MERGES):
        sel = f"(SELECT pair FROM __t{i})"
        pat = (f"' ' || replace(coalesce({sel}, {B._NOMATCH}), "
               f"' ', '{B.SEP}') || ' '")
        rep = f"' ' || replace(coalesce({sel}, ''), ' ', '') || ' '"
        ctes.append(f"""__fw{i + 1} AS MATERIALIZED (
            SELECT word, trim(replace(' ' || sp || ' ', {pat}, {rep}))
                AS sp
            FROM __fw{i}
        )""")
    ctes.append(f"""__bseg AS (
        SELECT word,
               array_to_string(
                   regexp_split_to_array(sp, ' +'), ' ') AS syms,
               cast(len(regexp_split_to_array(sp, ' +')) AS bigint)
                   AS n_sub
        FROM __fw{_BPEP_MERGES}
    )""")
    return f"""
    WITH {_TOK_BASE_CTES},
    {', '.join(ctes)}
    SELECT o.doc_id, cast(count(*) AS bigint) AS n_words,
           cast(sum(s.n_sub) AS bigint) AS n_tokens,
           md5(string_agg(s.syms, ' ' ORDER BY o.pos)) AS tokens_fp
    FROM occ o JOIN __bseg s USING (word)
    GROUP BY 1
    """


@query(
    "bpe_encode_persisted",
    oracle=_bpe_persisted_oracle(),
    tags=["llm-tokenize", "llm-bpe", "S11", "W5"],
)
def bpe_encode_persisted(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """The BPE tokenizer as a PRODUCTION ARTIFACT (parity with
    ``wordpiece_encode_persisted``): the merge list is learned on the
    BASE corpus (~80% of docs, md5 buckets ≠ 0) by the canonical
    executor-local trainer (``bpe_train_local`` — exact sequential
    semantics, one Arrow task), committed as (rank, pair) rows to a
    VersionedTable, read back FROM THE COMMIT LOG, and applied to the
    WHOLE corpus — merges are patterns, not a word lookup, so words
    the trainer never saw (the held-out 20%) still merge every
    learned pair they contain, exactly like a real tokenizer on newly
    landed text. Corpus-sized work stays declarative (one distinct-
    word shuffle + the positional equi-join); the artifact round-trip
    is bounded metadata (``merges`` rows)."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable
    from dbt_tpcdi_spark.queries import fixture_root

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(
        md5_mod(F.col("doc_id"), _BPEP_MOD, _BPEP_SALT) != 0
    )
    learned, _wseg = B.bpe_train_local(base, "text", _BPEP_MERGES)
    vt = VersionedTable(spark, fixture_root(sf_dir, "bpemerges"))
    vt.commit(
        local_df(
            spark,
            [(i, pair) for i, (pair, _c) in enumerate(learned)],
            "rank int, pair string",
        ),
        op="train",
    )
    stored = [
        r["pair"] for r in vt.read().orderBy("rank").collect()
    ]  # bounded: `merges` rows of artifact metadata, never corpus
    occ = _spread(d).select(
        "doc_id",
        F.posexplode(X.tokens(F.col("text"))).alias("pos", "word"),
    )
    wc_all = occ.groupBy("word").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    seg = B.segment_words(wc_all, stored).select(
        "word",
        F.regexp_replace(F.trim(F.col("sp")), " +", " ").alias("__syms"),
        F.size(F.split(F.col("sp"), " +")).cast("long").alias("__n_sub"),
    )
    return (
        occ.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("__n_sub").cast("long").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("pos"), F.col("__syms"))
                            )
                        ),
                        lambda s: s["__syms"],
                    ),
                    " ",
                )
            ).alias("tokens_fp"),
        )
    )


_UNIP_SALT = "unip:"
_UNIP_MOD = 5

_UNIP_ORACLE = f"""
    WITH RECURSIVE {_TOK_BASE_CTES},
    wcb AS (
        SELECT word, count(*) AS n FROM occ
        WHERE {md5_mod_sql('doc_id', _UNIP_MOD, _UNIP_SALT)} <> 0
        GROUP BY 1
    ),
    {_uni_chain_ctes(vocab_wc='SELECT word, n FROM wcb',
                     words_src='SELECT word FROM wc')}
    SELECT o.doc_id, cast(count(*) AS bigint) AS n_words,
           cast(sum(p.n_pieces) AS bigint) AS n_pieces,
           cast(sum(p.score) AS bigint) AS score,
           md5(string_agg(p.pieces, ' ' ORDER BY o.pos)) AS pieces_fp
    FROM occ o JOIN __unword p USING (word)
    GROUP BY 1
    """


@query(
    "unigram_encode_persisted",
    oracle=_UNIP_ORACLE,
    tags=["llm-tokenize", "S11", "W3", "A1"],
)
def unigram_encode_persisted(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The unigram-LM tokenizer as a PRODUCTION ARTIFACT: the scored
    vocabulary (single chars + top-K substrings, count-derived
    weights) is trained on the BASE corpus (~80% of docs, md5
    buckets ≠ 0), committed to a VersionedTable, snapshot-read, and
    the Viterbi DP segments the WHOLE corpus under it — held-out
    words take the max-score segmentation the base-trained scores
    give them (every base-corpus character is in the vocab, so any
    word over the corpus alphabet segments; a genuinely novel
    character raises loudly in the DP rather than silently
    degrading — the SentencePiece required-chars contract). The twin
    re-derives the base-trained vocabulary and runs the identical DP
    over all words, so the artifact round-trip is value-gated end to
    end."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable
    from dbt_tpcdi_spark.queries import fixture_root

    d = load_table(spark, sf_dir, "documents")
    occ = _spread(d).select(
        "doc_id",
        F.posexplode(X.tokens(F.col("text"))).alias("pos", "word"),
    )
    wc_all = occ.groupBy("word").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    wc_base = (
        occ.filter(
            md5_mod(F.col("doc_id"), _UNIP_MOD, _UNIP_SALT) != 0
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    vt = VersionedTable(spark, fixture_root(sf_dir, "univocab"))
    vt.commit(U.uni_vocab(wc_base), op="train")
    vocab_stored = vt.read()
    enc = U.uni_encode_words(wc_all, vocab_stored)
    return (
        occ.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("score").cast("long").alias("score"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("pos"),
                                         F.col("pieces"))
                            )
                        ),
                        lambda s: s["pieces"],
                    ),
                    " ",
                )
            ).alias("pieces_fp"),
        )
    )


# ---------------------------------------------------------------------------
# tokenizer family comparison from ONE shared tokenization


@query(
    "tokenizer_family_stats",
    oracle=f"""
    WITH RECURSIVE {_TOK_BASE_CTES},
    {_wp_chain_ctes()},
    {_UNI_CHAIN_CTES},
    tot AS (SELECT cast(sum(n) AS bigint) AS n_words FROM wc)
    SELECT family, n_words, n_pieces,
           cast((1000 * n_pieces) // n_words AS bigint)
               AS fertility_pm
    FROM (
        SELECT 'whitespace' AS family, t.n_words,
               t.n_words AS n_pieces
        FROM tot t
        UNION ALL
        SELECT 'wordpiece', t.n_words,
               cast(sum(w.n * p.n_pieces) AS bigint)
        FROM per_word p JOIN wc w USING (word), tot t
        GROUP BY t.n_words
        UNION ALL
        SELECT 'unigram', t.n_words,
               cast(sum(w.n * p.n_pieces) AS bigint)
        FROM __unword p JOIN wc w USING (word), tot t
        GROUP BY t.n_words
    )
    """,
    tags=["llm-tokenize", "A1", "SET"],
)
def tokenizer_family_stats(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Corpus fertility (pieces per 1000 words) for the three
    tokenizer families side by side — whitespace baseline, WordPiece
    greedy, unigram-LM Viterbi — from ONE shared tokenization: the
    comparison a pipeline runs before committing to a tokenizer,
    since fertility directly scales training cost. Both subword
    families segment the SAME checkpointed word table (one corpus
    tokenize for all three rows); per-family totals are
    occurrence-weighted (Σ count(word)·pieces(word)). The oracle
    splices the WordPiece and unigram CTE chains onto the shared base
    and re-derives all three rows independently."""
    d = load_table(spark, sf_dir, "documents")
    occ = _spread(d).select(
        "doc_id",
        F.posexplode(X.tokens(F.col("text"))).alias("pos", "word"),
    )
    wc = occ.groupBy("word").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=True)
    tot = wc.agg(F.sum("n").cast("long").alias("n_words"))

    def fam(name: str, enc: DataFrame) -> DataFrame:
        return (
            enc.join(wc, "word")
            .agg(
                F.sum(F.col("n") * F.col("n_pieces")).cast("long")
                .alias("n_pieces")
            )
            .crossJoin(F.broadcast(tot))
            .select(F.lit(name).alias("family"), "n_words",
                    "n_pieces")
        )

    ws = tot.select(
        F.lit("whitespace").alias("family"), "n_words",
        F.col("n_words").alias("n_pieces"),
    )
    out = (
        ws.unionByName(
            fam("wordpiece", W.wp_encode_words(wc, W.wp_vocab(wc)))
        ).unionByName(
            fam("unigram", U.uni_encode_words(wc, U.uni_vocab(wc)))
        )
    )
    return out.select(
        "family", "n_words", "n_pieces",
        F.expr("cast((1000 * n_pieces) div n_words AS bigint)")
        .alias("fertility_pm"),
    )


# ---------------------------------------------------------------------------
# training export: the final-mile artifact a pretraining run consumes —
# tokenize → pack → shard → versioned write, with a manifest derived
# from the COMMITTED table (round-trip, not from the in-flight frame).

_EXPORT_SHARDS = 8
_EXPORT_SALT = "train-export-v1|"
#: value-chunk width for the skew-safe pack cumsum — doc_ids are
#: unique, so each (lang, chunk) window task holds ≤ this many rows
#: no matter how hot the language
_EXPORT_PACK_CHUNK = 4096


def training_export_frame(
    d: DataFrame, root: str, shards: int = _EXPORT_SHARDS
) -> DataFrame:
    """The full export pipeline on any (doc_id, lang, text) frame —
    shared by the ``training_export`` gate and the hot-language bench
    pin so the skew probe measures EXACTLY the default path. Packs
    with ``chunked_running_sum`` (see ``training_export``), commits to
    a VersionedTable at ``root``, and returns the per-shard manifest
    aggregated from the COMMITTED table."""
    from dbt_tpcdi_spark.operators.windows import chunked_running_sum
    from dbt_tpcdi_spark.plans.versioned import VersionedTable

    sized = d.select(
        "lang", "doc_id",
        X.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    cum = chunked_running_sum(
        sized, ["lang"], "doc_id", "n_tokens", "__cum",
        chunk=_EXPORT_PACK_CHUNK,
    )
    packed = cum.select(
        "lang", "doc_id", "n_tokens",
        F.floor((F.col("__cum") - F.col("n_tokens")) / 2048)
        .cast("bigint").alias("seq_id"),
    )
    routed = packed.withColumn(
        "shard",
        md5_mod(
            F.concat(F.col("lang"), F.lit("-"),
                     F.col("seq_id").cast("string")),
            shards, _EXPORT_SALT,
        ).cast("bigint"),
    )
    vt = VersionedTable(d.sparkSession, root)
    vt.commit(routed.repartition(shards, "shard"), op="export")
    return (
        vt.read()
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(
                F.concat(F.col("lang"), F.lit("-"),
                         F.col("seq_id").cast("string"))
            ).alias("n_seqs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "training_export",
    oracle=f"""
    WITH sized AS (
        SELECT lang, doc_id,
               cast({X.token_count_sql('text')} AS bigint) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT lang, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sized
    ),
    packed AS (
        SELECT lang, doc_id, n_tokens,
               cast(floor((cum_tokens - n_tokens) / 2048) AS bigint)
                   AS seq_id
        FROM cum
    ),
    sh AS (
        SELECT *,
               {md5_mod_sql(
                   "(lang || '-' || cast(seq_id AS varchar))",
                   _EXPORT_SHARDS, _EXPORT_SALT)} AS shard
        FROM packed
    )
    SELECT cast(shard AS bigint) AS shard,
           count(*) AS n_docs,
           cast(count(DISTINCT lang || '-' || cast(seq_id AS varchar))
                AS bigint) AS n_seqs,
           cast(sum(n_tokens) AS bigint) AS n_tokens
    FROM sh GROUP BY 1
    """,
    tags=["llm-packing", "S9", "A1"],
)
def training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus export — the deliverable a
    pretraining job actually reads: documents are token-counted,
    packed into 2048-token sequences per language (``pack_sequences``'
    concat-and-cut plan), routed to {_EXPORT_SHARDS} output shards by
    md5 of the SEQUENCE key (every doc of a training sequence lands in
    the same shard — a sequence is never split across output files),
    and committed to a ``VersionedTable``. The returned manifest
    (per-shard docs / sequences / tokens) is aggregated from the
    COMMITTED table read back, so the gate verifies the round-trip,
    not the in-flight DataFrame; the oracle re-derives the same
    manifest from the raw documents alone.

    Scale (r13, VERDICT r12 item 1): the pack cumsum runs through
    ``chunked_running_sum`` — the two-phase value-chunk plan — NOT a
    ``Window.partitionBy(lang)``: a real pretraining corpus is ~half
    one language, and the per-lang window would serialize the dominant
    language's final-mile export into ONE task at 100 TB. With doc_id
    value chunks every pack task is bounded at {_EXPORT_PACK_CHUNK}
    rows regardless of language skew (the per-lang serial pass is over
    chunk COUNTS); the hot-language bench pin
    (``export_x100_hotlang_within_1_5x_uniform``) holds this on the
    default path. Then: a projection (shard routing), one
    repartition-by-shard write (the output-file balance knob —
    `shard_plan` is the sizing twin), and a map-side-combined manifest
    aggregate. Export versioning is free here: re-running commits a
    new snapshot, consumers pin a version, time travel audits past
    drops."""
    from dbt_tpcdi_spark.queries import fixture_root

    d = load_table(spark, sf_dir, "documents")
    return training_export_frame(
        d, fixture_root(sf_dir, "training_export") + "/corpus_v"
    )


# ---------------------------------------------------------------------------
# dataloader-order contract on the export (r13, VERDICT r12 item 6):
# the shards a pretraining job reads need a SPECIFIED, seeded,
# deterministic global consumption order — and a resume point that is
# an offset into that order, so a job can restart mid-epoch and read
# exactly the sequences it has not consumed.

_ORDER_SEED = "dl-order-v1|"


def export_order_frame(export_rows: DataFrame) -> DataFrame:
    """Derive the global dataloader order over an export table's rows
    (lang, doc_id, n_tokens, seq_id, shard): sequences are totally
    ordered by ``md5(seed‖lang-seq_id)`` (seeded shuffle — the
    standard dataloader epoch permutation, reproducible on any
    cluster) with (lang, seq_id) as the tiebreak, and ``ord_rank``
    materializes that order as 1..n_seqs.

    Scale: the rank is computed with the two-phase trick on the md5
    PREFIX (first two hex digits → 256 uniform buckets): local
    row_number per bucket + bucket offsets from a bounded
    metadata×metadata triangle join — no global single-task sort, no
    partitionless window anywhere, no skew possible (md5 prefixes are
    uniform by construction). Output is one row per SEQUENCE with its
    shard and sizes; hash-stable under any input partitioning because
    every ordering key is a pure function of the row."""
    seqs = (
        export_rows.groupBy("lang", "seq_id", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "__h",
            F.md5(F.concat(F.lit(_ORDER_SEED), F.col("lang"),
                           F.lit("-"),
                           F.col("seq_id").cast("string"))),
        )
        .withColumn(
            "__b",
            F.conv(F.substring("__h", 1, 2), 16, 10).cast("long"),
        )
    )
    w_loc = Window.partitionBy("__b").orderBy("__h", "lang", "seq_id")
    ranked = seqs.withColumn("__lrn", F.row_number().over(w_loc))
    # bucket offsets WITHOUT any partitionless window (banned
    # repo-wide): a triangle join over the ≤256-row bucket-count
    # table — metadata x metadata, broadcast, bounded at 256² pairs
    counts = seqs.groupBy("__b").agg(F.count("*").alias("__cnt"))
    c1 = counts.select(F.col("__b"))
    c2 = counts.select(F.col("__b").alias("__b2"),
                       F.col("__cnt").alias("__cnt2"))
    offsets = (
        c1.join(F.broadcast(c2), F.col("__b2") < F.col("__b"), "left")
        .groupBy("__b")
        .agg(F.coalesce(F.sum("__cnt2"), F.lit(0)).alias("__off"))
    )
    return (
        ranked.join(F.broadcast(offsets), "__b")
        .withColumn(
            "ord_rank", (F.col("__off") + F.col("__lrn")).cast("bigint")
        )
        .drop("__h", "__b", "__lrn", "__off")
    )


def export_order_read(vt, from_rank: int = 0) -> DataFrame:
    """RESUMABLE read of a committed export: sequences with
    ``ord_rank > from_rank`` in consumption order — restart a
    training job mid-epoch by passing the last completed rank. The
    rank is re-derived from the snapshot (pure functions of the
    rows), so it is identical on every read, every partitioning,
    every cluster size."""
    return (
        export_order_frame(vt.read())
        .filter(F.col("ord_rank") > from_rank)
    )


@query(
    "export_dataloader_order",
    oracle=f"""
    WITH sized AS (
        SELECT lang, doc_id,
               cast({X.token_count_sql('text')} AS bigint) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT lang, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sized
    ),
    packed AS (
        SELECT lang, doc_id, n_tokens,
               cast(floor((cum_tokens - n_tokens) / 2048) AS bigint)
                   AS seq_id
        FROM cum
    ),
    seqs AS (
        SELECT lang, seq_id,
               cast({md5_mod_sql(
                   "(lang || '-' || cast(seq_id AS varchar))",
                   _EXPORT_SHARDS, _EXPORT_SALT)} AS bigint) AS shard,
               count(*) AS n_docs,
               cast(sum(n_tokens) AS bigint) AS n_tokens,
               md5('{_ORDER_SEED}' || lang || '-'
                   || cast(seq_id AS varchar)) AS h
        FROM packed GROUP BY 1, 2
    )
    SELECT cast(row_number() OVER (ORDER BY h, lang, seq_id)
                AS bigint) AS ord_rank,
           lang, seq_id, shard, n_docs, n_tokens
    FROM seqs
    """,
    tags=["llm-packing", "S11", "W5", "versioned"],
)
def export_dataloader_order(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The export's consumption-order contract, value-gated: run the
    full export (commit to a VersionedTable), then derive the seeded
    global dataloader order from the COMMITTED snapshot. The oracle
    re-derives pack, shard routing, AND the md5-shuffled rank from
    the raw documents with a plain global ``row_number`` — so the
    two-phase bucketed rank must agree with the textbook global sort
    on every sequence, proving the order is a pure function of the
    data (hash-stable across partitionings and clusters, the
    restartability precondition)."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable
    from dbt_tpcdi_spark.queries import fixture_root

    root = fixture_root(sf_dir, "train_order") + "/corpus_v"
    d = load_table(spark, sf_dir, "documents")
    training_export_frame(d, root)
    vt = VersionedTable(spark, root)
    return export_order_frame(vt.read())


# ---------------------------------------------------------------------------
# persisted BM25 index: the LEXICAL sibling of the persisted IVFPQ
# lifecycle — build a term-partitioned inverted index once, serve
# arbitrary bag-of-words queries from Bloom-pruned term files, land
# new documents through O(batch) appends with additive stats.

_BM25_IDX_FILES = 8
_BM25_IDX_SALT = "bm25-idx-base|"
_BM25_BASE_FRAC = 0.9


def bm25_index_build(d, root: str,
                     files: int = _BM25_IDX_FILES) -> dict:
    """Materialize the inverted index as versioned tables: ``postings``
    (w, doc_id, tf) hash-clustered on the TERM with per-file Bloom
    bitmaps (a query term's rows live in one file; every other file
    proves the term absent and is skipped), ``doclens`` (doc_id, dl),
    and ``stats`` — (n, t) rows that are DELTAS by contract, so the
    serve path sums them and appends stay additive (BM25's global
    state is trivially mergeable; this is what makes incremental
    lexical indexing O(batch)).

    ``files`` is the postings-partition count — a BUILD parameter
    (r13, VERDICT r12 item 3), not a constant: like the IVFPQ cell
    schedule, the term-file count must grow with the corpus so each
    postings file stays executor-sized and a k-term probe keeps
    reading ~k files of constant-ish size. The bench x100 rung builds
    with ``files`` scaled 4× and pins serve-wall flatness; at 100 TB
    size it as corpus_tokens / target_file_rows."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable

    spark = d.sparkSession
    toks = d.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("w")
    )
    postings = toks.groupBy("w", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )
    doclens = d.select(
        "doc_id", X.token_count(F.col("text")).cast("long").alias("dl")
    )
    stats = doclens.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("t"),
    )
    t_post = VersionedTable(spark, f"{root}/postings")
    t_post.commit(
        postings.repartition(files, "w"), bloom_cols=["w"]
    )
    t_dl = VersionedTable(spark, f"{root}/doclens")
    t_dl.commit(doclens)
    t_st = VersionedTable(spark, f"{root}/stats")
    t_st.commit(stats)
    return {"post": t_post, "dl": t_dl, "stats": t_st, "root": root}


def bm25_index_append(idx: dict, new_d) -> dict:
    """FAISS-add for text: tokenize ONLY the new docs, append their
    postings (inheriting the term Bloom layout at O(batch) cost),
    their doclens, and a stats DELTA row. No retokenization of the
    base corpus, no global rebuild; document frequencies need no
    stored state at all — they are recomputed exactly from the pruned
    postings at serve time, so they are always consistent with
    whatever snapshot a reader pins.

    PRECONDITION: ``new_d``'s doc_ids must be DISJOINT from every
    previously indexed batch. This is an append-only contract (new
    documents landing), not an upsert: re-appending an indexed doc_id
    would duplicate its (w, doc_id) postings rows, inflating serve-time
    df and double-counting tf — silently diverging from a rebuild.
    Callers landing revisions must route through a rebuild (or delete
    + append once the storage layer's CDF delete is in the path);
    ``tests/test_corpus_queries.py`` pins the divergence so the
    contract is checked, not just stated."""
    toks = new_d.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("w")
    )
    idx["post"].append(
        toks.groupBy("w", "doc_id").agg(
            F.count("*").cast("long").alias("tf")
        )
    )
    doclens = new_d.select(
        "doc_id", X.token_count(F.col("text")).cast("long").alias("dl")
    )
    idx["dl"].append(doclens)
    idx["stats"].append(
        doclens.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("dl").cast("long").alias("t"),
        )
    )
    return idx


def bm25_index_delete(idx: dict, del_docs) -> dict:
    """The takedown/GDPR path — the third index-maintenance verb
    (r13): logically delete documents at O(batch) cost via TOMBSTONES,
    no postings rewrite. ``del_docs`` (a frame with ``doc_id``) lands
    as an appended tombstone table, and the (n, t) global stats get a
    NEGATIVE delta row derived from the deleted docs' indexed doclens
    — the mergeable-deltas contract absorbs deletion for free. Serve
    anti-joins tombstones on the PRUNED postings/doclens and
    recomputes document frequencies after, so the ranking equals a
    from-scratch rebuild on the remaining corpus exactly (the gate's
    oracle). PRECONDITION (mirror of the append contract): doc_ids
    must be currently indexed and not already deleted — a double
    delete would double-subtract the stats. Tombstones survive
    ``compact`` on the postings (compaction folds files, not
    logical state); a periodic purge rewrite is the maintenance story
    at high delete fractions."""
    from dbt_tpcdi_spark.plans.versioned import VersionedTable

    spark = idx["dl"].spark
    dels = del_docs.select("doc_id").distinct()
    gone = idx["dl"].read().join(dels, "doc_id", "left_semi")
    neg = gone.agg(
        (-F.count("*")).cast("long").alias("n"),
        (-F.coalesce(F.sum("dl"), F.lit(0))).cast("long").alias("t"),
    )
    if "dels" in idx:
        idx["dels"].append(dels)
    else:
        t_dels = VersionedTable(spark, f"{idx['root']}/dels")
        t_dels.commit(dels)
        idx["dels"] = t_dels
    idx["stats"].append(neg)
    return idx


def bm25_index_topk(idx: dict, terms: list[str], k: int = 10):
    """Serve a bag-of-words query from the persisted index: the
    postings read is Bloom-pruned to the probed terms' files
    (``read_where_in`` — the assert pins that pruning actually bit),
    tombstoned docs are anti-joined out of the pruned rows, document
    frequencies come from the surviving rows, (n, t) from the summed
    stats deltas (deletion's negative deltas included), and the
    quantized-integer BM25 formula is identical row-for-row to the
    from-scratch ``bm25_topk`` oracle. Returns (topk DataFrame,
    prune report)."""
    post, rep = idx["post"].read_where_in("w", terms)
    dl = idx["dl"].read()
    if "dels" in idx:
        tomb = idx["dels"].read().select("doc_id")
        post = post.join(tomb, "doc_id", "left_anti")
        dl = dl.join(tomb, "doc_id", "left_anti")
    st = idx["stats"].read().agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("t").cast("long").alias("t"),
    )
    dfreq = post.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    scored = (
        post.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .withColumn("__adl", F.expr("(100 * t) div n"))
        .withColumn(
            "__idf",
            F.expr(f"({X.BM25_RQ} * (2 * n - 2 * df + 1)) "
                   f"div (2 * df + 1)"),
        )
        .withColumn(
            "__tfn",
            F.expr(f"({X.BM25_TFQ} * 44 * __adl * tf) div "
                   f"(20 * __adl * tf + 6 * __adl + 1800 * dl)"),
        )
    )
    topk = (
        scored.groupBy("doc_id")
        .agg(F.sum(F.expr("__idf * __tfn")).cast("bigint")
             .alias("score_q"))
        .orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    return topk, rep


_BM25_IDX_TERMS = ["hash", "join", "spark"]  # = llm._BM25_TERMS


@query(
    "bm25_index_persisted",
    oracle=X.bm25_topk_sql("documents", "doc_id", _BM25_IDX_TERMS),
    tags=["llm-retrieval-bm25", "S9", "versioned"],
)
def bm25_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the persisted inverted index over the whole corpus, then
    serve the standard 3-term query FROM THE INDEX — same oracle as
    the from-scratch ``bm25_topk``, so the persisted round-trip
    (postings + doclens + mergeable stats) must reproduce the exact
    quantized ranking. The serve-side read must also PRUNE: with the
    term-hash layout a 3-term query touches at most 3 of the
    {_BM25_IDX_FILES} postings files."""
    from dbt_tpcdi_spark.queries import fixture_root

    root = fixture_root(sf_dir, "bm25_idx") + "/full"
    d = load_table(spark, sf_dir, "documents")
    idx = bm25_index_build(d, root)
    topk, rep = bm25_index_topk(idx, _BM25_IDX_TERMS)
    assert rep["files_read"] < rep["files_total"], rep
    return topk


@query(
    "bm25_index_append",
    oracle=X.bm25_topk_sql("documents", "doc_id", _BM25_IDX_TERMS),
    tags=["llm-retrieval-bm25", "S9", "versioned", "incremental"],
)
def bm25_index_append_query(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Incremental lexical indexing end-to-end: build the index on a
    deterministic 90% base split, land the remaining 10% through the
    O(batch) append path, and serve — the oracle is the from-scratch
    BM25 over the FULL corpus, so the composed (build + append) index
    must equal a total rebuild exactly: postings union, additive
    (n, t) deltas, and serve-time document frequencies all on the
    line."""
    from dbt_tpcdi_spark.queries import fixture_root

    root = fixture_root(sf_dir, "bm25_idx") + "/split"
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(
        hash_sample(F.col("doc_id"), _BM25_BASE_FRAC, _BM25_IDX_SALT)
    )
    delta = d.filter(
        ~hash_sample(F.col("doc_id"), _BM25_BASE_FRAC, _BM25_IDX_SALT)
    )
    idx = bm25_index_build(base, root)
    bm25_index_append(idx, delta)
    topk, rep = bm25_index_topk(idx, _BM25_IDX_TERMS)
    assert rep["files_read"] < rep["files_total"], rep
    return topk


@query(
    "bm25_index_delete",
    oracle=X.bm25_topk_sql(
        f"""(SELECT * FROM documents
             WHERE {hash_sample_sql('doc_id', _BM25_BASE_FRAC,
                                    _BM25_IDX_SALT)})""",
        "doc_id", _BM25_IDX_TERMS,
    ),
    tags=["llm-retrieval-bm25", "S9", "versioned", "incremental"],
)
def bm25_index_delete_query(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """The takedown lifecycle end-to-end: index the FULL corpus, then
    logically delete a deterministic 10% (tombstones + negative stats
    deltas — O(batch), no postings rewrite) and serve. The oracle is
    the from-scratch BM25 over ONLY the remaining 90%, so the
    tombstone anti-join, the post-delete document frequencies, and
    the negative (n, t) deltas must compose to exactly the index a
    rebuild-without-the-deleted-docs would produce — the contract a
    GDPR erasure pipeline needs. Reads stay term-file-pruned."""
    from dbt_tpcdi_spark.queries import fixture_root

    root = fixture_root(sf_dir, "bm25_idx") + "/del"
    d = load_table(spark, sf_dir, "documents")
    idx = bm25_index_build(d, root)
    dels = d.filter(
        ~hash_sample(F.col("doc_id"), _BM25_BASE_FRAC, _BM25_IDX_SALT)
    ).select("doc_id")
    bm25_index_delete(idx, dels)
    topk, rep = bm25_index_topk(idx, _BM25_IDX_TERMS)
    assert rep["files_read"] < rep["files_total"], rep
    return topk
