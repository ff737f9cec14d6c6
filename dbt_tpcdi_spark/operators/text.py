"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, fingerprinting, simhash.

Design rules (these run at 100 TB and get hash-checked against a DuckDB
oracle, so both matter):

- **Pure Column expressions** — everything stays in whole-stage codegen;
  zero Python in the hot path.
- **No transcendentals, no engine-specific hashes.** Quality scores are
  clipped linear forms (exp/log differ across libm builds); all hashing
  is md5-derived (identical everywhere), never xxhash64/hash().
- Each operator has a ``*_sql`` twin emitting the equivalent DuckDB
  expression from the same constants, so oracles never drift from the
  Spark implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_tpcdi_spark.functions.scalar import round4, round4_sql

# ---------------------------------------------------------------------------
# tokenization / counting

_WS = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokens (lowercased). split() on an all-space string
    yields [''], so trim first; empty text → empty array."""
    t = F.trim(F.lower(col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS)
    )


def tokens_sql(col: str) -> str:
    return (
        f"CASE WHEN trim(lower({col})) = '' THEN [] "
        f"ELSE regexp_split_to_array(trim(lower({col})), '\\s+') END"
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def token_count_sql(col: str) -> str:
    return f"len({tokens_sql(col)})"


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: splits on whitespace AND
    letter/digit/punctuation boundaries (a cheap BPE proxy for budget
    estimation). Counts non-empty pieces."""
    pieces = F.split(F.lower(col), r"(\s+|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])|(?=[^a-z0-9\s])|(?<=[^a-z0-9\s]))")
    return F.size(F.filter(pieces, lambda p: p != ""))


# ---------------------------------------------------------------------------
# quality features

#: English stopword sample for ratio features (tiny on purpose — the
#: operator shape is what matters; swap the list per corpus).
STOPWORDS_EN = ["the", "and", "of", "to", "a", "in", "is", "it"]


def _occurrences(padded: Column, marker: str) -> Column:
    """Occurrence count of ``marker`` via length arithmetic — exact,
    codegen-friendly, and identical in any engine with replace()."""
    return (
        F.length(padded) - F.length(F.replace(padded, F.lit(marker)))
    ) / len(marker)


def _occurrences_sql(padded: str, marker: str) -> str:
    return (
        f"(length({padded}) - length(replace({padded}, '{marker}', '')))"
        f" / {len(marker)}"
    )


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


_PADDED_SQL = "(' ' || lower({col}) || ' ')"


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_chars, n_tokens, avg_token_len, punct_ratio,
    stopword_ratio, quality_score (clipped linear — no exp)."""
    c = F.col(text_col)
    padded = _padded(c)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    no_space = F.length(F.regexp_replace(c, r"\s", ""))
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^a-zA-Z0-9\s]", ""))
    stop_hits = None
    for w in STOPWORDS_EN:
        occ = _occurrences(padded, f" {w} ")
        stop_hits = occ if stop_hits is None else stop_hits + occ
    avg_token_len = round4(no_space / n_tokens)
    punct_ratio = round4(punct / n_chars)
    stopword_ratio = round4(stop_hits / n_tokens)
    score = round4(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                0.1 * avg_token_len + stopword_ratio - punct_ratio,
            ),
        )
    )
    return (
        df.withColumn("n_chars", n_chars.cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("avg_token_len", avg_token_len)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("stopword_ratio", stopword_ratio)
        .withColumn("quality_score", score)
    )


def quality_features_sql(text_col: str = "text") -> dict[str, str]:
    """DuckDB expressions mirroring quality_features, keyed by column."""
    padded = _PADDED_SQL.format(col=text_col)
    n_tokens = token_count_sql(text_col)
    stop_hits = " + ".join(
        _occurrences_sql(padded, f" {w} ") for w in STOPWORDS_EN
    )
    avg = round4_sql(
        f"length(regexp_replace({text_col}, '\\s', '', 'g')) / ({n_tokens})"
    )
    punct = round4_sql(
        f"(length({text_col}) - length(regexp_replace({text_col}, "
        f"'[^a-zA-Z0-9\\s]', '', 'g'))) / length({text_col})"
    )
    stop = round4_sql(f"({stop_hits}) / ({n_tokens})")
    return {
        "n_chars": f"cast(length({text_col}) AS bigint)",
        "n_tokens": f"cast({n_tokens} AS bigint)",
        "avg_token_len": avg,
        "punct_ratio": punct,
        "stopword_ratio": stop,
        "quality_score": round4_sql(
            f"least(1.0, greatest(0.0, 0.1 * ({avg}) + ({stop}) - ({punct})))"
        ),
    }


# ---------------------------------------------------------------------------
# language ID (marker-token heuristic)

#: distinctive function-word markers per language; scored as occurrence
#: counts, argmax with fixed priority order for deterministic ties.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "is"],
    "de": ["der", "und", "nicht"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
    "zh": ["的", "了", "是"],
}


def lang_scores(col: Column) -> dict[str, Column]:
    padded = _padded(col)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            occ = _occurrences(padded, f" {m} ")
            s = occ if s is None else s + occ
        out[lang] = s
    return out


def lang_id(col: Column) -> Column:
    """Predicted language: argmax marker score, ties broken by the
    LANG_MARKERS declaration order via strictly->= chained CASE."""
    scores = lang_scores(col)
    langs = list(LANG_MARKERS)
    expr = None
    for lang in langs:
        others = [scores[o] for o in langs if o != lang]
        cond = None
        for o in others:
            c = scores[lang] >= o
            cond = c if cond is None else cond & c
        expr = (
            F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
        )
    return expr.otherwise(F.lit("und"))


def lang_id_sql(text_col: str = "text") -> str:
    padded = _PADDED_SQL.format(col=text_col)
    score = {
        lang: "(" + " + ".join(
            _occurrences_sql(padded, f" {m} ") for m in markers
        ) + ")"
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    whens = []
    for lang in langs:
        cond = " AND ".join(
            f"{score[lang]} >= {score[o]}" for o in langs if o != lang
        )
        whens.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


# ---------------------------------------------------------------------------
# fingerprinting

def fingerprint(col: Column) -> Column:
    """Normalization fingerprint: lowercase, strip non-alnum, collapse
    whitespace, md5 — the standard exact-dedup key that survives
    formatting noise."""
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", ""), _WS, " "
        )
    )
    return F.md5(normalized)


def fingerprint_sql(col: str) -> str:
    return (
        f"md5(trim(regexp_replace(regexp_replace(lower({col}), "
        f"'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')))"
    )


# ---------------------------------------------------------------------------
# simhash (document fingerprint with locality: near-dup docs get
# near-equal hashes in Hamming distance)

SIMHASH_BITS = 32  # nibbles of the token md5 used; multiple of 4


def simhash(
    df: DataFrame, id_cols: list[str], text_col: str, bits: int = SIMHASH_BITS,
    out: str = "simhash",
) -> DataFrame:
    """Per-document simhash over whitespace tokens (with multiplicity).

    Plan shape: explode tokens → one shuffle on id → ``bits`` partial
    sums (map-side combined) → bit recombination. Linear in corpus
    size; the explode never materializes more than (doc, token) pairs.
    Token hash = md5 hex nibbles; bit j's vote is ±1 by nibble bit.
    """
    assert bits % 4 == 0
    tok = df.select(*id_cols, F.explode(tokens(F.col(text_col))).alias("__tok"))
    h = F.md5(F.col("__tok"))
    votes = []
    for j in range(bits):
        nib, shift = divmod(j, 4)
        nib_val = F.expr(
            f"instr('0123456789abcdef', substring(md5(__tok), {nib + 1}, 1)) - 1"
        )
        bit = F.shiftright(nib_val, 3 - shift) % 2
        votes.append(F.sum(bit * 2 - 1).alias(f"__v{j}"))
    agg = tok.groupBy(*id_cols).agg(*votes)
    sh = None
    for j in range(bits):
        term = F.when(F.col(f"__v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh = term if sh is None else sh + term
    return agg.select(*id_cols, sh.alias(out))


def simhash_sql(
    id_cols: list[str], text_col: str, from_table: str,
    bits: int = SIMHASH_BITS, out: str = "simhash",
) -> str:
    """DuckDB equivalent of simhash() over the same constants."""
    ids = ", ".join(id_cols)
    votes = []
    for j in range(bits):
        nib, shift = divmod(j, 4)
        nib_val = (
            f"(strpos('0123456789abcdef', substr(md5(__tok), {nib + 1}, 1)) - 1)"
        )
        bit = f"(({nib_val} // {1 << (3 - shift)}) % 2)"
        votes.append(f"sum({bit} * 2 - 1) AS __v{j}")
    terms = " + ".join(
        f"CASE WHEN __v{j} > 0 THEN cast({1 << j} AS bigint) "
        f"ELSE cast(0 AS bigint) END"
        for j in range(bits)
    )
    return f"""
        WITH __tok AS (
            SELECT {ids}, unnest({tokens_sql(text_col)}) AS __tok
            FROM {from_table}
        ),
        __votes AS (
            SELECT {ids}, {', '.join(votes)} FROM __tok GROUP BY {ids}
        )
        SELECT {ids}, {terms} AS {out} FROM __votes
    """


# ---------------------------------------------------------------------------
# PII redaction (training corpora must scrub emails/phones/SSNs/IPs
# before tokenization — a first-class cleaning stage, not a UDF)

#: (name, regex, replacement) applied IN ORDER — order is part of the
#: contract (emails are scrubbed before their digit runs could match
#: the looser numeric patterns). Patterns restricted to syntax with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB): literal
#: classes, bounded repeats, ASCII \b.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column) -> Column:
    """Sequential regexp_replace over ``PII_PATTERNS`` — one codegen'd
    expression chain, no Python in the hot path."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_pii_sql(col: str) -> str:
    out = col
    for _, pat, repl in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{repl}', 'g')"
    return out


def redaction_counts(redacted: Column) -> dict[str, Column]:
    """Per-category redaction counts, derived from the redacted text by
    counting replacement markers (integer length math — no second
    regex pass, exact cross-engine parity)."""
    out = {}
    for name, _, repl in PII_PATTERNS:
        n = (
            F.length(redacted)
            - F.length(F.replace(redacted, F.lit(repl), F.lit("")))
        ) / F.lit(len(repl))
        out[f"n_{name}"] = n.cast("bigint")
    return out


def redaction_counts_sql(redacted: str) -> dict[str, str]:
    out = {}
    for name, _, repl in PII_PATTERNS:
        out[f"n_{name}"] = (
            f"CAST((length({redacted}) - length(replace({redacted}, "
            f"'{repl}', ''))) / {len(repl)} AS BIGINT)"
        )
    return out


def strip_markup(col: Column) -> Column:
    """Boilerplate strip: drop HTML/XML tags, collapse whitespace."""
    return F.trim(F.regexp_replace(F.regexp_replace(col, r"<[^>]+>", " "), _WS, " "))


def strip_markup_sql(col: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace({col}, '<[^>]+>', ' ', 'g'), "
        f"'\\s+', ' ', 'g'))"
    )


# ---------------------------------------------------------------------------
# boilerplate detection: n-grams shared across many documents (headers,
# footers, license blocks) are the classic repeated-content signal a
# training corpus filters before training.


def _ngrams_linear(toks: Column, n: int) -> Column:
    """All n-grams of a token array as 'w1 … wn' strings, built by
    zip_with over n shifted slices — O(tokens) per doc. The obvious
    per-position ``slice(toks, i, n)`` build is O(tokens·n) array
    copies plus an O(tokens) slice per gram (quadratic per doc overall;
    measured 6× slower on the x10 bench corpus). Caller guards
    size >= n, so every slice below has the same positive length and
    zip_with never null-pads."""
    length = F.size(toks) - (n - 1)
    out = F.slice(toks, 1, length)
    for i in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, i + 1, length),
            lambda acc, nxt: F.concat(acc, F.lit(" "), nxt),
        )
    return out


def ngram_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles ('w1 w2 w3' strings); empty array when
    the doc has fewer than n tokens."""
    toks = tokens(col)
    return F.when(
        F.size(toks) >= n, F.array_distinct(_ngrams_linear(toks, n))
    ).otherwise(F.array().cast("array<string>"))


def ngram_shingles_sql(col: str, n: int = 3) -> str:
    t = tokens_sql(col)
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({t}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(({t})[i : i + {n - 1}], ' ')))"
    )


def boilerplate_scores(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 10,
) -> DataFrame:
    """Per-document boilerplate measurement: the fraction of a doc's
    distinct n-gram shingles that appear in ≥ ``min_docs`` documents.

    Plan: explode per-doc-distinct shingles (so a gram counts once per
    doc), count docs per gram (one map-side-combined shuffle), keep
    the frequent set, equi-join it back (AQE broadcasts it when small)
    and re-aggregate per doc. Docs with < n tokens score 0. All counts
    are exact — no sketches — so the DuckDB twin matches by hash.

    Output: ``id_col``, n_grams, n_frequent, boilerplate_ratio
    (round4'd double).
    """
    grams = df.select(
        F.col(id_col), F.explode(ngram_shingles(F.col(text_col), n)).alias("__g")
    )
    freq = (
        grams.groupBy("__g")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__g")
    )
    per_doc = (
        grams.join(freq.withColumn("__hit", F.lit(1)), "__g", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_frequent"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_frequent"), F.lit(0)).cast("bigint")
            .alias("n_frequent"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                round4(F.col("n_frequent") / F.col("n_grams")),
            )
            .otherwise(F.lit(0.0))
            .alias("boilerplate_ratio"),
        )
    )


def boilerplate_scores_sql(
    from_table: str,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 10,
) -> str:
    grams = ngram_shingles_sql(text_col, n)
    return f"""
    WITH grams AS (
        SELECT {id_col}, unnest({grams}) AS g FROM {from_table}
    ),
    freq AS (
        SELECT g FROM grams GROUP BY g HAVING count(*) >= {min_docs}
    ),
    per_doc AS (
        SELECT gr.{id_col}, count(*) AS n_grams,
               sum(CASE WHEN f.g IS NOT NULL THEN 1 ELSE 0 END) AS n_frequent
        FROM grams gr LEFT JOIN freq f USING (g)
        GROUP BY 1
    )
    SELECT d.{id_col},
           cast(coalesce(p.n_grams, 0) AS bigint) AS n_grams,
           cast(coalesce(p.n_frequent, 0) AS bigint) AS n_frequent,
           CASE WHEN coalesce(p.n_grams, 0) > 0
                THEN {round4_sql('p.n_frequent / p.n_grams')}
                ELSE 0.0 END AS boilerplate_ratio
    FROM {from_table} d LEFT JOIN per_doc p USING ({id_col})
    """


# ---------------------------------------------------------------------------
# repetition filters (Gopher-style quality rules)

#: Gopher repetition thresholds (Rae et al. 2021, table A1 shapes):
#: a doc is repetitive when any measure exceeds its threshold.
DUP_LINE_FRAC_MAX = 0.30
TOP_2GRAM_FRAC_MAX = 0.20
TOP_3GRAM_FRAC_MAX = 0.18


def ngram_list(col: Column, n: int) -> Column:
    """ALL n-token shingles with multiplicity (ngram_shingles dedups;
    repetition measures need the multiset). Linear-time build — see
    ``_ngrams_linear``."""
    toks = tokens(col)
    return F.when(F.size(toks) >= n, _ngrams_linear(toks, n)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_list_sql(col: str, n: int) -> str:
    t = tokens_sql(col)
    return (
        f"list_transform(range(1, greatest(len({t}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(({t})[i : i + {n - 1}], ' '))"
    )


def _max_multiplicity(arr: Column) -> Column:
    """Count of the most frequent element of ``arr`` — the longest run
    of equal values in the SORTED array, computed by a single fold:
    pure projection, no explode, no shuffle. acc = (prev, run, best)."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(
        F.sort_array(arr), zero, step, lambda acc: acc["best"]
    )


# SINGLE-EVALUATION building blocks (r11; hoisted to module level in
# r14 so repetition_predicate shares them verbatim): the naive
# per-feature expression list re-derives tokens ~8x and each n-gram
# array 3x per row (CollapseProject inlines aliases, and the when/size
# guards defeat codegen subexpression elimination across features —
# measured 2.6 s vs 0.6 s on the sf0.1 pass). Binding the token array
# as a higher-order-function lambda variable forces exactly one
# evaluation: transform() over a one-element array makes `tk` a bound
# reference, not a re-derivable subtree; the n-gram arrays get the
# same treatment one level down.
def _once(expr: Column, fn) -> Column:
    return F.transform(F.array(expr), fn)[0]


def _top_frac(tk: Column, n: int) -> Column:
    grams = F.when(F.size(tk) >= n, _ngrams_linear(tk, n)).otherwise(
        F.array().cast("array<string>")
    )
    return _once(
        grams,
        lambda gr: F.when(
            F.size(gr) > 0,
            round4(_max_multiplicity(gr) / F.size(gr)),
        ).otherwise(F.lit(0.0)),
    )


def _dup_frac(arr: Column) -> Column:
    n = F.size(arr)
    return F.when(
        n > 0, round4((n - F.size(F.array_distinct(arr))) / n)
    ).otherwise(F.lit(0.0))


def repetition_predicate(c: Column) -> Column:
    """``is_repetitive`` as ONE self-contained predicate — for FILTER
    sites (r14). Filtering on the ``is_repetitive`` COLUMN of
    ``repetition_features`` lets Catalyst's pushdown substitute the
    column references: the pushed predicate rebuilds the full feature
    struct once per threshold (tokens and both gram arrays evaluated
    2×, measured in the executed curation plans). This form evaluates
    lines, tokens and each gram array exactly once per row — same
    round4 arithmetic, same thresholds, same OR, so the boolean is
    identical to ``repetition_features().is_repetitive`` (pinned by a
    test)."""
    lines_bad = _once(
        F.split(c, "\n"), lambda a: _dup_frac(a) > DUP_LINE_FRAC_MAX
    )
    grams_bad = _once(
        tokens(c),
        lambda tk: (_top_frac(tk, 2) > TOP_2GRAM_FRAC_MAX)
        | (_top_frac(tk, 3) > TOP_3GRAM_FRAC_MAX),
    )
    return lines_bad | grams_bad


def repetition_features(
    df: DataFrame, id_col: str, text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style repetition measures per document:

    - ``dup_token_frac``: 1 − |distinct tokens| / |tokens| (pure array
      expression, no shuffle);
    - ``dup_line_frac``: fraction of newline-split lines that repeat an
      earlier line (degenerates to 0 for single-line docs);
    - ``top_2gram_frac`` / ``top_3gram_frac``: share of the doc's
      n-gram multiset taken by its most frequent n-gram;
    - ``is_repetitive``: any measure over its Gopher threshold.

    Every measure is a pure array expression — the whole operator is
    one shuffle-free projection over the scan (the top-n-gram share
    folds over the sorted gram array instead of exploding to a
    per-(doc, gram) count), so repetition filtering runs at scan
    bandwidth at any corpus size.

    ``keep`` carries extra input columns through the projection so a
    pipeline can FILTER on ``is_repetitive`` in place instead of
    joining the features back to the source — a projection is free,
    the join-back is a second scan plus a shuffle (the r10
    curation-pipeline shape).
    """
    c = F.col(text_col)
    feats = _once(
        tokens(c),
        lambda tk: F.struct(
            F.size(tk).cast("bigint").alias("n_tokens"),
            _dup_frac(tk).alias("dup_token_frac"),
            _top_frac(tk, 2).alias("top_2gram_frac"),
            _top_frac(tk, 3).alias("top_3gram_frac"),
        ),
    )
    out = df.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        feats["n_tokens"].alias("n_tokens"),
        feats["dup_token_frac"].alias("dup_token_frac"),
        _once(F.split(c, "\n"), _dup_frac).alias("dup_line_frac"),
        feats["top_2gram_frac"].alias("top_2gram_frac"),
        feats["top_3gram_frac"].alias("top_3gram_frac"),
    )
    return out.withColumn(
        "is_repetitive",
        (F.col("dup_line_frac") > DUP_LINE_FRAC_MAX)
        | (F.col("top_2gram_frac") > TOP_2GRAM_FRAC_MAX)
        | (F.col("top_3gram_frac") > TOP_3GRAM_FRAC_MAX),
    )


def repetition_features_sql(
    from_table: str, id_col: str, text_col: str = "text"
) -> str:
    t = tokens_sql(text_col)
    lines = f"string_split({text_col}, chr(10))"

    def top_frac(n: int) -> str:
        return f"""
        SELECT {id_col},
               {round4_sql('max(c) / sum(c)')} AS frac
        FROM (
            SELECT {id_col}, g, count(*) AS c
            FROM (SELECT {id_col},
                         unnest({ngram_list_sql(text_col, n)}) AS g
                  FROM {from_table})
            GROUP BY 1, 2
        ) GROUP BY 1
        """

    dup_tok = round4_sql(f"(len({t}) - len(list_distinct({t}))) / len({t})")
    dup_line = round4_sql(
        f"(len({lines}) - len(list_distinct({lines}))) / len({lines})"
    )
    return f"""
    WITH g2 AS ({top_frac(2)}), g3 AS ({top_frac(3)}),
    base AS (
        SELECT {id_col},
               cast(len({t}) AS bigint) AS n_tokens,
               CASE WHEN len({t}) > 0 THEN {dup_tok} ELSE 0.0 END
                   AS dup_token_frac,
               CASE WHEN len({lines}) > 0 THEN {dup_line} ELSE 0.0 END
                   AS dup_line_frac
        FROM {from_table}
    )
    SELECT b.{id_col}, b.n_tokens, b.dup_token_frac, b.dup_line_frac,
           coalesce(g2.frac, 0.0) AS top_2gram_frac,
           coalesce(g3.frac, 0.0) AS top_3gram_frac,
           (b.dup_line_frac > {DUP_LINE_FRAC_MAX}
            OR coalesce(g2.frac, 0.0) > {TOP_2GRAM_FRAC_MAX}
            OR coalesce(g3.frac, 0.0) > {TOP_3GRAM_FRAC_MAX})
               AS is_repetitive
    FROM base b
    LEFT JOIN g2 ON b.{id_col} = g2.{id_col}
    LEFT JOIN g3 ON b.{id_col} = g3.{id_col}
    """


# ---------------------------------------------------------------------------
# benchmark-contamination detection

CONTAMINATION_NGRAM = 5
CONTAMINATION_MIN_OVERLAP = 0.2


def contamination_scores(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = CONTAMINATION_NGRAM,
    ids_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document n-gram overlap against an evaluation corpus — the
    decontamination pass every training pipeline runs before a model
    sees the data.

    ``overlap_frac`` = |doc's distinct n-grams ∩ eval n-grams| /
    |doc's distinct n-grams|; ``is_contaminated`` flags docs at ≥
    CONTAMINATION_MIN_OVERLAP.

    Scale shape: the eval-side distinct n-gram set is small by nature
    (benchmarks are MBs, the corpus is TBs), so it is explicitly
    ``broadcast()`` — the corpus side streams through a broadcast hash
    join with zero shuffle of corpus grams; the only shuffle is the
    per-doc re-aggregation, keyed by doc id.
    """
    eval_grams = (
        eval_df.select(
            F.explode(ngram_shingles(F.col(text_col), n)).alias("__g")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    doc_grams = df.select(
        F.col(id_col),
        F.explode(ngram_shingles(F.col(text_col), n)).alias("__g"),
    )
    per_doc = (
        doc_grams.join(F.broadcast(eval_grams), "__g", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_matched"),
        )
    )
    # ids_df (r13): join-back id list from a plain column-pruned scan —
    # avoids re-deriving df's (possibly repartitioned/filtered-wide)
    # lineage just to enumerate ids; the aggregated per-doc side is
    # hash-join hinted (both sides already hash-partitioned on the id,
    # the sort-merge sorts are pure overhead).
    # CONTRACT (ADVICE r13): ids_df must be ROW-SET IDENTICAL to df on
    # id_col — the same relation through row-preserving ops only
    # (spread/projection). A narrower frame silently drops docs from
    # the output; a wider one emits spurious zero-score rows.
    ids = (ids_df if ids_df is not None else df).select(id_col)
    return (
        ids.join(per_doc.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_matched", F.lit(0)).cast("bigint")
            .alias("n_matched"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                round4(F.col("n_matched") / F.col("n_grams")),
            ).otherwise(F.lit(0.0)).alias("overlap_frac"),
        )
        .withColumn(
            "is_contaminated",
            F.col("overlap_frac") >= CONTAMINATION_MIN_OVERLAP,
        )
    )


def contamination_scores_sql(
    from_sql: str,
    eval_sql: str,
    id_col: str,
    text_col: str = "text",
    n: int = CONTAMINATION_NGRAM,
) -> str:
    grams = ngram_shingles_sql(text_col, n)
    return f"""
    WITH eval_grams AS (
        SELECT DISTINCT unnest({grams}) AS g FROM ({eval_sql})
    ),
    doc_grams AS (
        SELECT {id_col}, unnest({grams}) AS g FROM ({from_sql})
    ),
    per_doc AS (
        SELECT dg.{id_col}, count(*) AS n_grams,
               sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
        FROM doc_grams dg LEFT JOIN eval_grams e USING (g)
        GROUP BY 1
    )
    SELECT d.{id_col},
           cast(coalesce(p.n_grams, 0) AS bigint) AS n_grams,
           cast(coalesce(p.n_matched, 0) AS bigint) AS n_matched,
           CASE WHEN coalesce(p.n_grams, 0) > 0
                THEN {round4_sql('p.n_matched / p.n_grams')}
                ELSE 0.0 END AS overlap_frac,
           (CASE WHEN coalesce(p.n_grams, 0) > 0
                 THEN {round4_sql('p.n_matched / p.n_grams')}
                 ELSE 0.0 END) >= {CONTAMINATION_MIN_OVERLAP}
               AS is_contaminated
    FROM ({from_sql}) d LEFT JOIN per_doc p USING ({id_col})
    """


# ---------------------------------------------------------------------------
# n-gram LM fluency scoring (the KenLM-filter shape, integer-exact)

LM_Q = 10000  # probability quantization: q(p) = floor(p * 10^4)


def lm_fluency(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Corpus-trained bigram-LM fluency score per document — the shape
    of perplexity-based quality filtering (CCNet/KenLM) without the
    external model: train bigram statistics on the corpus itself, score
    each doc by its mean quantized bigram probability.

    score_q = floor( Σ_bigrams (LM_Q·c(w1 w2)) div c(w1) / n_bigrams )

    All statistics are exact integer counts and every probability is
    quantized by integer division BEFORE summation, so the score is
    order-independent and bit-identical cross-engine (a log-prob
    perplexity would hit libm divergence; the mean-probability form
    ranks documents the same way for filtering purposes).

    Plan: one explode for bigram counts (map-side combined), one for
    unigram counts, an equi-join of doc bigrams onto the stats (AQE
    broadcasts bounded vocabularies; open vocab shuffles on the gram —
    never on docs²), and a per-doc re-aggregation.

    Output: (id, n_bigrams, fluency_q) — higher = more in-distribution.
    """
    return lm_fluency_score(
        df, lm_fluency_stats(df, text_col), id_col, text_col
    )


def lm_fluency_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The trainable MODEL of lm_fluency: (``__g`` bigram, ``__q``
    quantized probability) rows derived from a training corpus —
    vocabulary-bounded metadata, committable to a ``VersionedTable``
    (the persisted-filter lifecycle, r13) and applicable to unseen
    documents with ``lm_fluency_score``."""
    bigrams = df.select(
        F.explode(ngram_list(F.col(text_col), 2)).alias("__g")
    )
    c2 = bigrams.groupBy("__g").agg(F.count("*").alias("__c2"))
    c1 = (
        df.select(F.explode(tokens(F.col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count("*").alias("__c1"))
    )
    return c2.withColumn(
        "__w", F.substring_index(F.col("__g"), " ", 1)
    ).join(c1, "__w").select(
        "__g", F.expr(f"({LM_Q} * __c2) div __c1").alias("__q")
    )


def lm_fluency_score(
    df: DataFrame,
    stats: DataFrame,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Score documents under a (possibly snapshot-read) bigram stats
    table — bigrams the model never saw contribute nothing, exactly
    as in the self-trained path where they cannot occur."""
    bigrams = df.select(
        F.col(id_col), F.explode(ngram_list(F.col(text_col), 2)).alias("__g")
    )
    per_doc = (
        bigrams.join(stats, "__g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("sum(__q) div count(*)").alias("fluency_q"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.coalesce("fluency_q", F.lit(0)).cast("bigint")
            .alias("fluency_q"),
        )
    )


def lm_fluency_sql(
    from_table: str,
    id_col: str,
    text_col: str = "text",
    train_where: str | None = None,
) -> str:
    """DuckDB twin; ``train_where`` restricts the bigram/unigram
    STATS to a training subset (the persisted-artifact lifecycle's
    twin — scoring still covers every document, and bigrams the
    training set never produced score nothing on both sides)."""
    grams = ngram_list_sql(text_col, 2)
    toks = tokens_sql(text_col)
    tw = f"WHERE {train_where}" if train_where else ""
    return f"""
    WITH bigrams AS (
        SELECT {id_col}, unnest({grams}) AS g FROM {from_table}
    ),
    c2 AS (
        SELECT g, count(*) AS c2 FROM (
            SELECT unnest({grams}) AS g FROM {from_table} {tw}
        ) GROUP BY 1
    ),
    c1 AS (
        SELECT w, count(*) AS c1 FROM (
            SELECT unnest({toks}) AS w FROM {from_table} {tw}
        ) GROUP BY 1
    ),
    stats AS (
        SELECT c2.g, ({LM_Q} * c2.c2) // c1.c1 AS q
        FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.w
    ),
    per_doc AS (
        SELECT b.{id_col}, count(*) AS n_bigrams,
               sum(s.q) // count(*) AS fluency_q
        FROM bigrams b JOIN stats s USING (g)
        GROUP BY 1
    )
    SELECT d.{id_col},
           cast(coalesce(p.n_bigrams, 0) AS bigint) AS n_bigrams,
           cast(coalesce(p.fluency_q, 0) AS bigint) AS fluency_q
    FROM {from_table} d LEFT JOIN per_doc p USING ({id_col})
    """


# ---------------------------------------------------------------------------
# per-group quality-quantile gating (shared by quantile_filter and the
# curation pipeline — one definition so thresholds/tie-breaks can't drift)

QUALITY_QUANTILE_MIN = 0.25


def quality_quantile_gate(
    scored: DataFrame,
    group_col: str = "lang",
    score_col: str = "quality_score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep rows at or above the QUALITY_QUANTILE_MIN percent_rank of
    ``score_col`` within each group — exact, deterministic under ties
    via the (score, id) total order; appends ``qrank``. At open-ended
    group sizes swap in a two-pass approx_percentile threshold."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(score_col, id_col)
    return scored.withColumn(
        "qrank", round4(F.percent_rank().over(w))
    ).filter(F.col("qrank") >= QUALITY_QUANTILE_MIN)


def quality_quantile_gate_sql(
    inner_sql: str,
    group_col: str = "lang",
    score_col: str = "quality_score",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: SELECT * + qrank from ``inner_sql``, gated."""
    rank = round4_sql(
        f"percent_rank() OVER (PARTITION BY {group_col} "
        f"ORDER BY {score_col}, {id_col})"
    )
    return (
        f"SELECT * FROM (SELECT *, {rank} AS qrank FROM ({inner_sql})) "
        f"WHERE qrank >= {QUALITY_QUANTILE_MIN}"
    )


#: the gate quantile as an exact rational (1/4), so the rank target
#: ceil(q·n) = (n + 3) div 4 stays in integer arithmetic cross-engine
QUALITY_QUANTILE_NUM, QUALITY_QUANTILE_DEN = 1, 4


def quality_quantile_gate_approx(
    scored: DataFrame,
    group_col: str = "lang",
    score_col: str = "quality_score",
    materialize: bool = True,
) -> DataFrame:
    """The 100 TB quantile gate: two aggregation passes, NO
    per-group row sort.

    The exact gate (``quality_quantile_gate``) ranks every row inside
    a ``Window.partitionBy(group)`` — at open-ended group sizes each
    language becomes one multi-TB sort task. This variant computes the
    same q-quantile THRESHOLD from a (group, score) histogram instead:

    1. one shuffle on (group, score) with map-side combine — the
       sorted work is over DISTINCT SCORES per group (quality_score is
       round4-quantized, so ≤ 10⁴ rows per group regardless of corpus
       size);
    2. threshold T(group) = min score whose ascending cumulative count
       reaches ceil(q·n) — the inverse-CDF quantile, integer-exact via
       the rational q (ceil(n/4) = (n+3) div 4);
    3. broadcast T back and keep rows with score ≥ T.

    Semantics vs the exact gate: this is the inverse-CDF threshold
    rule — keep every row at or above the score whose cumulative count
    reaches ceil(q·n). The exact gate's percent_rank rule cuts on the
    (score, id) total ORDER instead, so even on tie-free groups the
    two can disagree by one row at the boundary (e.g. n=8: percent_rank
    keeps 6 rows, the threshold keeps 7), and under ties the threshold
    keeps all rows at the cut score while percent_rank splits them.
    The kept set is always a SUPERSET of the exact gate's (pinned by a
    test) — the right contract for a quality FILTER, where the
    boundary row is noise either way; callers needing the exact rank
    semantics use quality_quantile_gate. Appends ``qthreshold`` (the
    per-group cut) instead of ``qrank``.

    ``scored`` is consumed TWICE (histogram pass + the threshold
    filter), so with ``materialize=True`` (default) it is
    ``persist()``-ed — callers pass the compact scored projection
    (id, group, score[, fp]), never raw text, so the cache holds
    feature-extraction OUTPUT at one row per document; without it the
    whole upstream text lineage runs twice (measured 5.2 s → 1.3 s per
    run on the sf0.1 curation pipeline). ``persist`` (not the eager
    ``localCheckpoint`` this used through r8) because checkpoint
    blocks are PINNED for the session's lifetime — repeated
    invocations accumulated storage until driver OOM (ADVICE r8),
    while persisted blocks are evictable under memory pressure and
    are released by the ContextCleaner once the returned DataFrame is
    dropped. Callers that already materialized ``scored`` (or that
    loop and manage their own caching) pass ``materialize=False``.

    EXECUTION SHAPE (r11 — fixes the r10 rising-trials regression):
    the per-group threshold is resolved EAGERLY, in the SAME pass that
    fills the persist (the threshold aggregation is the cache-filling
    action — no separate ``count()`` warm-up pass), and embedded into
    the returned plan as a LITERAL broadcast (``createDataFrame`` of
    ≤ |groups| rows — driver metadata, like k-means centroids). The
    returned DataFrame therefore consumes the ``scored`` subtree
    exactly ONCE: even if an external ``clearCache()`` drops the
    persist, re-executing the result recomputes upstream once, never
    twice (r10: the threshold-join plan re-ran the whole text-feature
    lineage per consumer after clearCache — trials [1.9, 4.7, 4.5]
    instead of a flat ~2 s)."""
    from pyspark.sql import Window

    if materialize:
        # evictable persist (never the session-pinned localCheckpoint
        # this used through r8); filled by the threshold collect below
        scored = scored.persist()
    hist = scored.groupBy(group_col, score_col).agg(
        F.count("*").alias("__c")
    )
    cum_w = (
        Window.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(cum_w))
    tot = hist.groupBy(group_col).agg(F.sum("__c").alias("__n"))
    target = F.expr(
        f"({QUALITY_QUANTILE_NUM} * __n + {QUALITY_QUANTILE_DEN} - 1) "
        f"div {QUALITY_QUANTILE_DEN}"
    )
    thr_rows = (
        cum.join(tot, group_col)
        .filter(F.col("__cum") >= target)
        .groupBy(group_col)
        .agg(F.min(score_col).alias("qthreshold"))
        .collect()  # ≤ |groups| rows — bounded driver metadata
    )
    from dbt_tpcdi_spark.session import local_df

    spark = scored.sparkSession
    g_type = scored.schema[group_col].dataType.simpleString()
    s_type = scored.schema[score_col].dataType.simpleString()
    thr = local_df(
        spark,
        [(r[group_col], r["qthreshold"]) for r in thr_rows],
        f"{group_col} {g_type}, qthreshold {s_type}",
    )
    return (
        scored.join(F.broadcast(thr), group_col)
        .filter(F.col(score_col) >= F.col("qthreshold"))
        .select(*scored.columns, "qthreshold")
    )


def quality_quantile_gate_approx_sql(
    inner_sql: str,
    group_col: str = "lang",
    score_col: str = "quality_score",
) -> str:
    """DuckDB twin of the histogram-threshold gate (identical
    inverse-CDF threshold rule, same integer rank target)."""
    tgt = (
        f"({QUALITY_QUANTILE_NUM} * n.__n + {QUALITY_QUANTILE_DEN} - 1) "
        f"// {QUALITY_QUANTILE_DEN}"
    )
    return f"""
    SELECT s.*, t.qthreshold
    FROM ({inner_sql}) s
    JOIN (
        SELECT c.{group_col}, min(c.{score_col}) AS qthreshold
        FROM (
            SELECT {group_col}, {score_col},
                   sum(__c) OVER (PARTITION BY {group_col}
                                  ORDER BY {score_col}) AS __cum
            FROM (
                SELECT {group_col}, {score_col}, count(*) AS __c
                FROM ({inner_sql}) GROUP BY 1, 2
            )
        ) c
        JOIN (
            SELECT {group_col}, count(*) AS __n
            FROM ({inner_sql}) GROUP BY 1
        ) n USING ({group_col})
        WHERE c.__cum >= {tgt}
        GROUP BY 1
    ) t USING ({group_col})
    WHERE s.{score_col} >= t.qthreshold
    """


# ---------------------------------------------------------------------------
# DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling" — public): hashed n-gram
# bag features, target-vs-raw distribution ratio, per-document
# importance score. Selection on top of the score reuses the existing
# gates (quantile / hash-sample), so this operator only scores.

DSIR_BUCKETS = 1024  # hashed feature space size
DSIR_Q = 10000  # ratio quantization: r = floor(Q * p_hat / q_hat)


def _dsir_bucket(s: Column) -> Column:
    """md5-derived feature bucket in [0, DSIR_BUCKETS) — cross-engine
    identical (same idiom as the minhash token hash)."""
    return (
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    )


def _dsir_bucket_sql(s: str) -> str:
    powers = [16 ** (8 - i) for i in range(1, 9)]
    return (
        "(list_sum(list_transform(range(1, 9), i -> "
        f"cast(strpos('0123456789abcdef', substr(md5({s}), i, 1)) - 1 "
        f"AS bigint) * cast({powers}[i] AS bigint)))::bigint "
        f"% {DSIR_BUCKETS})"
    )


def md5_60bit(s: Column) -> Column:
    """60-bit uniform integer from the md5 prefix (15 hex chars) —
    the KMV sketch's hash domain. Fits signed int64 with headroom for
    the ``2^60 div v`` estimator arithmetic; cross-engine identical
    (same md5-prefix idiom as ``_dsir_bucket``)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def md5_60bit_sql(s: str) -> str:
    powers = [16 ** (15 - i) for i in range(1, 16)]
    return (
        "list_sum(list_transform(range(1, 16), i -> "
        f"cast(strpos('0123456789abcdef', substr(md5({s}), i, 1)) - 1 "
        f"AS bigint) * cast({powers}[i] AS bigint)))::bigint"
    )


def dsir_scores(
    df: DataFrame,
    id_col: str,
    is_target: Column,
    text_col: str = "text",
    ids_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance score: how much more likely the
    doc's hashed n-gram features are under the TARGET distribution
    (rows where ``is_target``) than under the RAW corpus distribution.

    Features are unigrams + bigrams hashed into DSIR_BUCKETS buckets
    (multiplicity kept). With add-1-smoothed bucket probabilities
    p̂_k = (p_k+1)/(Np+B) and q̂_k = (q_k+1)/(Nq+B), each bucket gets
    an integer ratio r_k = (DSIR_Q·(p_k+1)·(Nq+B)) div ((q_k+1)·(Np+B))
    and a doc scores the MEAN r over its features — the same
    no-libm-logs trade ``lm_fluency`` makes (a log-ratio sum would not
    be bit-identical cross-engine; the mean-ratio form ranks documents
    equivalently for selection).

    Plan shape at 100 TB: bucket statistics are BOUNDED (≤ DSIR_BUCKETS
    rows per agg, map-side combined), the totals are scalars, and both
    join back to the feature stream as broadcasts — the only data-scale
    shuffle is the final per-doc re-aggregation on ``id_col``.

    Output: (id, n_feats, dsir_q); docs with no features score 0.

    r13: ``ids_df`` (optional) supplies the join-back id list from a
    plain column-pruned scan so the final left join does not re-derive
    (or re-shuffle) the feature lineage; the aggregated per-doc side
    is hash-join hinted — both sides arrive hash-partitioned on the
    id, so the sort-merge sort passes are pure overhead. (The feats
    stream is deliberately NOT persisted: its two consumers fold it
    behind different exchanges, but the re-derivation is a cheap
    projection pass that runs in independent parallel stages — a
    cache-fill barrier measured slower at sf0.1.)
    """
    feats = df.select(
        F.col(id_col),
        is_target.alias("__t"),
        F.explode(
            F.concat(tokens(F.col(text_col)), ngram_list(F.col(text_col), 2))
        ).alias("__g"),
    ).select(id_col, "__t", _dsir_bucket(F.col("__g")).alias("__b"))
    stats = feats.groupBy("__b").agg(
        F.count("*").alias("__q"),
        F.sum(F.col("__t").cast("long")).alias("__p"),
    )
    tot = stats.agg(
        (F.sum("__q") + F.lit(DSIR_BUCKETS)).alias("__nq"),
        (F.sum("__p") + F.lit(DSIR_BUCKETS)).alias("__np"),
    )
    ratios = stats.crossJoin(F.broadcast(tot)).select(
        "__b",
        F.expr(f"({DSIR_Q} * (__p + 1) * __nq) div ((__q + 1) * __np)")
        .alias("__r"),
    )
    per_doc = (
        feats.join(F.broadcast(ratios), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            F.expr("sum(__r) div count(*)").alias("dsir_q"),
        )
    )
    ids = (ids_df if ids_df is not None else df).select(id_col)
    return (
        ids.join(per_doc.hint("shuffle_hash"), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.coalesce("dsir_q", F.lit(0)).cast("bigint").alias("dsir_q"),
        )
    )


def dsir_scores_sql(
    from_table: str,
    id_col: str,
    is_target_sql: str,
    text_col: str = "text",
) -> str:
    """DuckDB twin of ``dsir_scores`` (identical smoothing, identical
    integer ratio/mean arithmetic)."""
    grams = (
        f"list_concat({tokens_sql(text_col)}, "
        f"{ngram_list_sql(text_col, 2)})"
    )
    return f"""
    WITH feats AS (
        SELECT {id_col}, t, {_dsir_bucket_sql('g')} AS b
        FROM (
            SELECT {id_col}, ({is_target_sql}) AS t, unnest({grams}) AS g
            FROM {from_table}
        )
    ),
    stats AS (
        SELECT b, count(*) AS q,
               sum(CASE WHEN t THEN 1 ELSE 0 END) AS p
        FROM feats GROUP BY 1
    ),
    tot AS (
        SELECT sum(q) + {DSIR_BUCKETS} AS nq,
               sum(p) + {DSIR_BUCKETS} AS np
        FROM stats
    ),
    ratios AS (
        SELECT b, ({DSIR_Q} * (p + 1) * nq) // ((q + 1) * np) AS r
        FROM stats, tot
    ),
    per_doc AS (
        SELECT f.{id_col}, count(*) AS n_feats,
               sum(r.r) // count(*) AS dsir_q
        FROM feats f JOIN ratios r USING (b)
        GROUP BY 1
    )
    SELECT d.{id_col},
           cast(coalesce(p.n_feats, 0) AS bigint) AS n_feats,
           cast(coalesce(p.dsir_q, 0) AS bigint) AS dsir_q
    FROM {from_table} d LEFT JOIN per_doc p USING ({id_col})
    """


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 "Winnowing:
# Local Algorithms for Document Fingerprinting" — public): char k-gram
# rolling hashes, one fingerprint per window of w consecutive hashes
# (the RIGHTMOST minimal hash, the paper's tie rule), so any shared
# substring of length >= k+w-1 between two documents is guaranteed to
# share a fingerprint. A pure projection + explode — no shuffle until
# the caller aggregates fingerprints.

WINNOW_K = 5  # char k-gram length
WINNOW_W = 4  # winnowing window (hashes per window)

#: fingerprints pack as pos * 2^31 + hash (hash < 2^31), so the
#: (pos, fp) pair survives a single bigint column cross-engine and
#: decodes exactly.
_WINNOW_PACK = 1 << 31
_WINNOW_P = 2147483647


#: polynomial hash base (k-gram value = Σ codepoint·B^j mod P) — a true
#: rolling-hash form: pure integer arithmetic, ~10× cheaper than an md5
#: per position and exactly equal in any engine with ord()/ascii().
#: Max pre-mod value at k=5: 1114111·(256⁴+…+1) < 2⁶² — no overflow.
_WINNOW_B = 256


def _winnow_poly_sql(t: str, i: str, k: int) -> str:
    """k-gram polynomial hash at 1-based position ``i`` — the oracle's
    form of the hash the Spark side assembles from lead() windows."""
    terms = " + ".join(
        f"cast(ord(substr({t}, {i} + {j}, 1)) AS bigint) "
        f"* {_WINNOW_B ** (k - 1 - j)}"
        for j in range(k)
    )
    return f"(({terms}) % {_WINNOW_P})"


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Distinct winnowed fingerprints per document: (id, pos, fp)
    where ``pos`` is the 1-based char position of the selected k-gram
    and ``fp`` its hash. Docs shorter than k+w-1 chars yield no rows
    (the paper's guarantee threshold).

    Plan: documents posexplode ONCE into (doc, pos, codepoint) rows;
    the k-gram polynomial hash is a chain of ``lead()`` windows over
    that stream (each char is touched exactly once — an array-of-
    substrings formulation is O(pos) per char on UTF-8 strings, i.e.
    quadratic per doc, measured 10× slower); the rightmost-minimum of
    each w-hash window is then a single ``min(struct(h, -pos))`` over
    a forward row frame — struct ordering gives smallest hash, then
    largest position, exactly the paper's tie rule. Both window
    passes share one per-doc shuffle + sort."""
    from pyspark.sql import Window

    t = F.lower(F.col(text_col))
    chars = df.select(
        F.col(id_col),
        F.posexplode(
            F.when(t == "", F.array().cast("array<string>")).otherwise(
                F.split(t, "")
            )
        ).alias("__p0", "__c"),
    ).select(
        id_col,
        (F.col("__p0") + 1).cast("long").alias("__pos"),
        F.ascii(F.col("__c")).cast("long").alias("__cp"),
    )
    order = Window.partitionBy(id_col).orderBy("__pos")
    h = None
    for j in range(k):
        cp_j = F.col("__cp") if j == 0 else F.lead("__cp", j).over(order)
        term = cp_j * (_WINNOW_B ** (k - 1 - j))
        h = term if h is None else h + term
    hrows = (
        chars.withColumn("__h", h % _WINNOW_P)
        .filter(F.col("__h").isNotNull())  # last k-1 positions
        .select(id_col, "__pos", "__h")
    )
    frame = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    full = Window.partitionBy(id_col)
    sel = (
        hrows.withColumn(
            "__sel",
            F.min(
                F.struct(F.col("__h"), (-F.col("__pos")).alias("__np"))
            ).over(frame),
        )
        .withColumn("__n", F.count("*").over(full))
        .filter(F.col("__pos") <= F.col("__n") - (w - 1))
    )
    return (
        sel.select(
            id_col,
            (-F.col("__sel.__np")).cast("bigint").alias("pos"),
            F.col("__sel.__h").cast("bigint").alias("fp"),
        )
        .distinct()
    )


def winnow_fingerprints_sql(
    from_table: str,
    id_col: str,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> str:
    """DuckDB twin — same hashes, same rightmost-minimum tie rule,
    same bigint packing."""
    t = f"lower({text_col})"
    hs = (
        f"list_transform(range(1, greatest(len({t}) - {k - 1}, 0) + 1), "
        f"i -> {_winnow_poly_sql(t, 'i', k)})"
    )
    mh = f"list_min(h[i : i + {w - 1}])"
    rightmost = (
        f"list_max(list_transform(range(i, i + {w}), j -> "
        f"CASE WHEN h[j] = {mh} THEN cast(j AS bigint) "
        f"ELSE cast(0 AS bigint) END))"
    )
    return f"""
    SELECT DISTINCT {id_col},
           cast(pf // {_WINNOW_PACK} AS bigint) AS pos,
           cast(pf % {_WINNOW_PACK} AS bigint) AS fp
    FROM (
        SELECT {id_col},
               unnest(list_transform(
                   range(1, greatest(len(h) - {w - 1}, 0) + 1),
                   i -> {rightmost} * {_WINNOW_PACK} + {mh})) AS pf
        FROM (SELECT {id_col}, {hs} AS h FROM {from_table})
    )
    """


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson/Sparck-Jones probabilistic weighting
# — public literature): the full-text search primitive a corpus needs
# once it is deduped and curated. Integer-exact throughout, with the
# same two no-libm trades the rest of this module makes:
#
# - IDF keeps the RATIO inside the classic log, quantized:
#   idf_q = floor(RQ·(2N−2df+1)/(2df+1)) — a monotone transform of
#   Robertson IDF, so rankings are preserved and cross-engine exact.
# - avgdl is quantized to centitokens (avgdl_q = 100·T div N), making
#   the tf-saturation term a pure-integer rational. With k1=1.2 and
#   b=0.75 the classic tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl)) becomes
#   tfn_q = floor(TFQ·44·avgdl_q·tf / (20·avgdl_q·tf + 6·avgdl_q
#   + 1800·dl)) — every factor is per-document bounded, so the
#   arithmetic never grows with corpus size; idf_q·tfn_q stays in
#   bigint up to ~10^9 documents (≈100 TB at 100 KB/doc).

BM25_RQ = 10000  # IDF-ratio quantization
BM25_TFQ = 10000  # tf-saturation quantization


def bm25_topk(
    df: DataFrame,
    id_col: str,
    terms: list[str],
    text_col: str = "text",
    k: int = 10,
    n_df: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-words query by quantized BM25.

    Plan shape at 100 TB: one explode over corpus tokens feeds a
    per-doc conditional aggregation — (doc length, tf per query term)
    in a single map-side-combined shuffle whose exchange carries ONE
    row per document. Document frequencies and T then fold that
    per-doc table to a 1-row broadcast; N is a text-free count (column
    pruning — the scan never decodes the text bytes). Scoring is a
    pure projection over the per-doc table; no joins anywhere except
    the two 1-row broadcasts; top-k is TakeOrderedAndProject. Two
    tokenize passes total (the per-doc subtree feeds both the stats
    fold and the scoring projection).

    Output: (id, score_q), score desc / id asc, k rows."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
    )
    per_doc = toks.groupBy(id_col).agg(
        F.count("*").cast("long").alias("__dl"),
        *[
            F.sum((F.col("__w") == t).cast("long")).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # n_df (r13): the corpus count comes from a plain scan when the
    # caller passes one — df is typically round-robin repartitioned
    # for the tokenize stage, and counting THROUGH that repartition
    # pays a full (empty-schema) exchange of every row; the bare scan
    # count is parquet-footer metadata work (guide §2.4).
    # CONTRACT (ADVICE r13): n_df must have the same ROW COUNT as df
    # (same relation through row-preserving ops only) — a mismatched
    # frame silently skews the BM25 idf.
    n = (n_df if n_df is not None else df).agg(
        F.count("*").cast("long").alias("__n")
    )
    stats = per_doc.agg(
        F.sum("__dl").cast("long").alias("__t"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    scored = (
        per_doc.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(stats))
        .withColumn("__adl", F.expr("(100 * __t) div __n"))
    )
    term_score = " + ".join(
        f"(({BM25_RQ} * (2 * __n - 2 * __df{i} + 1)) div (2 * __df{i} + 1))"
        f" * (({BM25_TFQ} * 44 * __adl * __tf{i}) div "
        f"(20 * __adl * __tf{i} + 6 * __adl + 1800 * __dl))"
        for i in range(len(terms))
    )
    # keep docs by TERM PRESENCE, not score>0: a stop-word-like term
    # can have idf_q==0 (df within ~1/2e4 of n), making a matching
    # doc's score legitimately 0 — the oracle's tf-row shape keeps it,
    # so a score>0 filter would diverge when fewer than k docs score
    # positive
    has_term = F.greatest(
        *[F.col(f"__tf{i}") for i in range(len(terms))]
    ) > 0
    per_doc_score = scored.filter(has_term).select(
        F.col(id_col),
        F.expr(term_score).cast("bigint").alias("score_q"),
    )
    return per_doc_score.orderBy(
        F.col("score_q").desc(), F.col(id_col).asc()
    ).limit(k)


def bm25_topk_sql(
    from_table: str,
    id_col: str,
    terms: list[str],
    text_col: str = "text",
    k: int = 10,
) -> str:
    """DuckDB twin — identical quantized IDF / tf-saturation / top-k
    tie-break."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH __toks AS (
        SELECT {id_col}, w FROM (
            SELECT {id_col}, unnest({tokens_sql(text_col)}) AS w
            FROM {from_table}
        ) WHERE w IN ({in_list})
    ),
    __dl AS (
        SELECT {id_col}, cast({token_count_sql(text_col)} AS bigint) AS dl
        FROM {from_table}
    ),
    __nt AS (
        SELECT cast(count(*) AS bigint) AS n,
               cast(sum({token_count_sql(text_col)}) AS bigint) AS t
        FROM {from_table}
    ),
    __tf AS (
        SELECT {id_col}, w, cast(count(*) AS bigint) AS tf
        FROM __toks GROUP BY 1, 2
    ),
    __dfreq AS (
        SELECT w, cast(count(*) AS bigint) AS df FROM __tf GROUP BY 1
    ),
    __scored AS (
        SELECT f.{id_col},
               ({BM25_RQ} * (2 * nt.n - 2 * d.df + 1)) // (2 * d.df + 1)
                   AS idf,
               ({BM25_TFQ} * 44 * ((100 * nt.t) // nt.n) * f.tf) //
               (20 * ((100 * nt.t) // nt.n) * f.tf
                + 6 * ((100 * nt.t) // nt.n) + 1800 * l.dl) AS tfn
        FROM __tf f
        JOIN __dfreq d USING (w)
        JOIN __dl l USING ({id_col})
        CROSS JOIN __nt nt
    )
    SELECT {id_col}, cast(sum(idf * tfn) AS bigint) AS score_q
    FROM __scored
    GROUP BY 1
    ORDER BY score_q DESC, {id_col} ASC
    LIMIT {k}
    """
