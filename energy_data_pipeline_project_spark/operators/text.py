"""Text-analysis operators over the ``documents`` table.

Language ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + regex "BPE-ish" pieces), and positional fingerprinting —
all as codegen'd Catalyst expressions (no Python UDFs), each with a
DuckDB oracle twin built from the same constants.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import hashing as H
from ..sources.tables import load_table
from ._registry import make_registry

QUERIES, ORACLES, query = make_registry()

REPETITION_MAX_FRAC = 0.2  # gopher-style: top token may take <=20% of doc
SAMPLE_MOD = 10  # docs_hash_sample keeps key-hash % 10 == 0 (~10%)

_TOKS_DUCK = H.tokens_sql("text", duck=True)
_TOKS_SPARK = H.tokens_sql("text", duck=False)

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Order is the deterministic tie-break priority.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "an", "of", "and", "in", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "es": ("el", "la", "de", "y", "que", "los", "una"),
    "fr": ("le", "la", "les", "et", "de", "un", "une"),
    "zh": ("de5", "shi4", "le5"),
}

# "BPE-ish" tokenizer: letter runs, single digits, single punctuation
# marks — the classic pre-tokenization regex shape (same semantics in
# Java regex and RE2).
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

QUALITY_MIN_TOKENS = 20

CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
CHUNK_STEP = CHUNK_TOKENS - CHUNK_OVERLAP


def _stop_count(lang: str, *, duck: bool) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    if duck:
        return f"len(list_filter(toks, x -> x IN ({words})))"
    return f"size(filter(toks, x -> x IN ({words})))"


def _langid_case(*, duck: bool) -> str:
    # argmax over stopword hit counts with fixed priority order; 'und'
    # (undetermined) when nothing hits.
    langs = list(STOPWORDS)
    conds = []
    for i, lang in enumerate(langs):
        others = [langs[j] for j in range(len(langs)) if j != i]
        ge = " AND ".join(f"c_{lang} >= c_{o}" for o in others)
        conds.append(f"WHEN c_{lang} > 0 AND {ge} THEN '{lang}'")
    return "CASE " + " ".join(conds) + " ELSE 'und' END"


@query(
    "text_langid",
    f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS_DUCK} AS toks FROM documents),
    c AS (SELECT doc_id, lang,
          {", ".join(f"{_stop_count(lg, duck=True)} AS c_{lg}" for lg in STOPWORDS)}
          FROM t)
    SELECT doc_id, lang AS labeled_lang,
           {_langid_case(duck=True)} AS pred_lang,
           CAST(({_langid_case(duck=True)}) = lang AS INT) AS is_match
    FROM c
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.expr(_TOKS_SPARK).alias("toks"))
    c = t.select(
        "doc_id",
        "lang",
        *[
            F.expr(_stop_count(lg, duck=False)).alias(f"c_{lg}")
            for lg in STOPWORDS
        ],
    )
    pred = F.expr(_langid_case(duck=False))
    return c.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        (pred == F.col("lang")).cast("int").alias("is_match"),
    )


@query(
    "text_quality",
    f"""
    WITH t AS (SELECT doc_id, n_chars, {_TOKS_DUCK} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_types,
           len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
           n_chars * 1.0 / len(toks) AS chars_per_token,
           CAST(len(toks) >= {QUALITY_MIN_TOKENS} AS INT) AS passes_min_len
    FROM t WHERE len(toks) > 0
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "n_chars", F.expr(_TOKS_SPARK).alias("toks"))
    n_tok = F.size("toks")
    n_typ = F.size(F.array_distinct("toks"))
    return t.where(n_tok > 0).select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        n_typ.cast("int").alias("n_types"),
        (n_typ * 1.0 / n_tok).alias("ttr"),
        (F.col("n_chars") * 1.0 / n_tok).alias("chars_per_token"),
        (n_tok >= QUALITY_MIN_TOKENS).cast("int").alias("passes_min_len"),
    )


@query(
    "text_token_stats",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKS_DUCK})) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_PATTERN}'))) AS BIGINT)
             AS total_bpe_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY source
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # NULL-text guard: Spark size(NULL) = -1 (each NULL doc would
    # SUBTRACT one token) while DuckDB SUM skips the NULL len — the
    # same class span_removal_frame guards (r07 review); the when()
    # makes the Spark sum skip NULLs identically.
    nn = F.col("text").isNotNull()
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(nn, F.size(F.expr(_TOKS_SPARK))))
        .cast("bigint")
        .alias("total_ws_tokens"),
        F.sum(
            F.when(
                nn,
                F.size(
                    F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)")
                ),
            )
        )
        .cast("bigint")
        .alias("total_bpe_tokens"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
    )


@query(
    "text_chunk",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks) - {CHUNK_OVERLAP}, 1),
                                    {CHUNK_STEP})) AS start
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STEP} AS INT) AS chunk_id,
           CAST(len(toks[start : start + {CHUNK_TOKENS - 1}]) AS INT)
             AS n_chunk_tokens,
           array_to_string(toks[start : start + {CHUNK_TOKENS - 1}], ' ')
             AS chunk_text
    FROM starts
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunks (32 tokens, 8 overlap) — the
    document→training-sample windowing step of an LLM data pipeline.
    Pure Catalyst (sequence + slice + explode): a map-side Generate,
    embarrassingly parallel at any corpus size. A chunk never starts
    within the final overlap region, so no emitted chunk is fully
    contained in its predecessor (no duplicate training content), and
    dechunking (drop the first `overlap` tokens of every chunk after
    the first) reconstructs the document exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks")).where(
        F.size("toks") > 0
    )
    starts = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                f"sequence(1, greatest(size(toks) - {CHUNK_OVERLAP}, 1), "
                f"{CHUNK_STEP})"
            )
        ).alias("start"),
    )
    chunk = F.expr(f"slice(toks, start, {CHUNK_TOKENS})")
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STEP).cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@query(
    "text_tfidf",
    f"""
    WITH toks AS (
      -- keyless (NULL doc_id) documents are excluded: they cannot be
      -- ranked per-doc, and worse, a term appearing ONLY in them gets
      -- df = 0 (COUNT DISTINCT skips NULL) while its tf rows survive,
      -- so the idf divides by zero (r09 degenerate sweep)
      SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM documents
      WHERE doc_id IS NOT NULL
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id IS NOT NULL),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS score
      FROM tf JOIN df USING (term), n
    ),
    r AS (SELECT doc_id, term, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term) AS rn
          FROM scored)
    SELECT doc_id, term, CAST(rn AS INT) AS rank, score AS tfidf
    FROM r WHERE rn <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Ranking happens on the score rounded to 6 decimals with a term
    tie-break: libm ``ln`` may differ by 1 ulp between engines, and
    rounding collapses those ulps into the same 6-dp value unless a
    score lands within ~tf·ulp of an exact x.xxxxx5 boundary. That
    residual is irreducible while ``ln`` stays in the ranking (exact
    comparison of tf₁·ln(N/df₁) vs tf₂·ln(N/df₂) needs unbounded-
    precision powers) — instead it is PROVEN VACUOUS on the test data
    by ``tests/test_round_tie_hunt.py``, which recomputes every
    achievable (tf, df) score and asserts none sits within 1e-12 of a
    boundary (engine disagreement is ≲1e-14). The emitted value is the
    ranking score itself: a second ROUND(…, 4) on top of the 6-dp
    value put exact decimal halves (…50 endings, present in the data)
    under the engines' divergent half-rounding — the r08 tie-hunt
    caught that class and the double-round was dropped (r07 verdict
    #5; same scheme in text_bm25_topk).
    """
    # NULL-doc_id exclusion: see the oracle's toks comment (df=0 for
    # terms unique to a keyless doc divided the idf by zero)
    docs = load_table(spark, sf_dir, "documents").where(
        "doc_id IS NOT NULL"
    )
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size as a 1-row aggregate broadcast into the scoring plan
    # (the oracle's `n` CTE) — NOT a driver-side .count(), which would
    # run an extra job + full scan per invocation at 100 TB.
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("rn").cast("int").alias("rank"),
            F.col("score").alias("tfidf"),
        )
    )


_key_duck = H.md5_int64("CAST(doc_id AS VARCHAR)", duck=True)
_key_spark = H.md5_int64("CAST(doc_id AS STRING)", duck=False)
_SPLIT_BUCKET_DUCK = f"({_key_duck} % 100)"
_SPLIT_BUCKET_SPARK = f"({_key_spark} % 100)"


@query(
    "data_split_hash",
    f"""
    WITH b AS (
      SELECT doc_id, source, {_SPLIT_BUCKET_DUCK} AS bucket FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id
    FROM b
    GROUP BY 1, 2
    """,
)
def data_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by content-independent
    key hash — the reproducible-split idiom for training data at scale:
    no shuffle, no sampling state, stable under reruns and appends, and
    any engine (here: DuckDB) derives the identical assignment.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the ONE split rule (split_label_sql) — see corpus_curation_e2e
    split = F.expr(split_label_sql())
    return docs.groupBy("source", split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "text_fingerprint",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS w
            FROM t)
    SELECT doc_id,
           CAST(SUM((({H.md5_int64("w", duck=True)} % {H.FINGERPRINT_MOD})
                     * i) % {H.FINGERPRINT_MOD})
                % {H.FINGERPRINT_MOD} AS BIGINT) AS fingerprint
    FROM pos GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Positional rolling-hash-style fingerprint: order-sensitive (the
    # same bag of words in a different order fingerprints differently),
    # cheap, and pure integer math → exact in both engines.
    #
    # Overflow headroom (r06 review): the per-term mod bounds each
    # addend below P31 < 2^31 BEFORE the sum, so the int64 running sum
    # stays exact through ~2^32 tokens per document (the unreduced
    # form wrapped Spark's non-ANSI bigint at ~93k tokens while DuckDB
    # promoted to HUGEINT — silent cross-engine divergence). The
    # per-term product (h % P31) * i is < 2^52 even at the 2M-token
    # document bound budgeted by _SEGDEDUP_POS_FACTOR.
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    pos = t.select(
        "doc_id", F.posexplode("toks").alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "w")
    h = F.expr(H.md5_int64("w", duck=False))
    return pos.groupBy("doc_id").agg(
        (
            F.sum(((h % H.FINGERPRINT_MOD) * F.col("i")) % H.FINGERPRINT_MOD)
            % H.FINGERPRINT_MOD
        )
        .cast("bigint")
        .alias("fingerprint")
    )


@query(
    "text_repetition",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents
    ),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id, MAX(c) AS top_tok_count, SUM(c) AS n_tokens,
             COUNT(*) AS n_types
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(top_tok_count AS INT) AS top_tok_count,
           CAST(n_tokens AS INT) AS n_tokens,
           top_tok_count * 1.0 / n_tokens AS top_tok_frac,
           CAST(n_tokens > 0 AND top_tok_count * 1.0 / n_tokens
                <= {REPETITION_MAX_FRAC} AS INT) AS passes_repetition
    FROM per_doc
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: fraction of tokens taken by the
    single most frequent token. Boilerplate / keyword-stuffed docs
    score high and fail the gate. Pure ratio of exact integers →
    bitwise identical cross-engine. One explode + two hash aggregates;
    no windows, no joins — linear at any corpus size."""
    # same metric pipeline as the quality funnel — ONE definition
    # (r07 review: this was a verbatim third copy of the explode →
    # per-(doc,tok) count → per-doc MAX/SUM/COUNT chain)
    per_doc = _funnel_doc_metrics(load_table(spark, sf_dir, "documents"))
    frac = F.col("topc") * 1.0 / F.col("n")
    return per_doc.select(
        "doc_id",
        F.col("topc").cast("int").alias("top_tok_count"),
        F.col("n").cast("int").alias("n_tokens"),
        frac.alias("top_tok_frac"),
        ((F.col("n") > 0) & (frac <= REPETITION_MAX_FRAC))
        .cast("int")
        .alias("passes_repetition"),
    )


@query(
    "text_char_entropy",
    """
    WITH c AS (SELECT doc_id, unnest(regexp_extract_all(text, '[^\n]')) AS ch
               FROM documents),
    g AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
    a AS (SELECT doc_id, SUM(cnt) AS n, SUM(cnt * log2(cnt)) AS s
          FROM g GROUP BY 1)
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars_counted,
           ROUND(log2(n) - s / n, 4) AS char_entropy
    FROM a
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    information-theoretic quality signal: near-zero entropy flags
    degenerate repetition ("aaaa…"), unusually high entropy flags
    random-bytes noise; natural language sits in a stable band.

    Uses the identity H = log2(N) - sum(c_i*log2(c_i))/N so the only
    float inputs are exact integer counts: each log2 sees an exact int,
    the weighted sum runs over <=|alphabet| terms, and ROUND(...,4)
    absorbs summation-order jitter.  One Generate + two hash
    aggregates (map-side combined), no windows or joins — linear and
    shuffle-light at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "doc_id",
            # '[^\n]', not '.': Java-regex '.' excludes ALL line
            # terminators (\r, U+2028/2029) while RE2's '.' excludes
            # only \n — a document containing \r counted differently
            # per engine (r08 review). The negated class means exactly
            # "everything but newline" in both dialects.
            F.explode(
                F.expr(r"regexp_extract_all(text, '[^\n]', 0)")
            ).alias("ch"),
        )
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("cnt"))
    )
    a = g.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.log2("cnt")).alias("s"),
    )
    return a.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars_counted"),
        F.round(F.log2("n") - F.col("s") / F.col("n"), 4).alias(
            "char_entropy"
        ),
    )


@query(
    "docs_hash_sample",
    f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE ({_key_duck} % {SAMPLE_MOD}) = 0
    """,
)
def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~(100/SAMPLE_MOD)% corpus sample by content-free
    key hash: reproducible across runs, engines, and partitionings —
    the property random() sampling lacks. Pure map-side filter (no
    shuffle); the same idiom drives data_split_hash's 90/5/5 split."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(
        (F.expr(_key_spark) % SAMPLE_MOD) == 0
    ).select("doc_id", "lang", "source", "n_chars")


# Deterministic WEIGHTED sampling: keep probability proportional to a
# per-row weight (here: doc length relative to the corpus max — the
# "sample long documents more" curriculum knob). The coin flip is the
# key hash mapped to [0,1), so the decision is reproducible across
# runs, engines, and partitionings, unlike rand()-based sampling.
WEIGHTED_SAMPLE_UNIT = 2**32  # md5_int64 range


@query(
    "docs_weighted_sample",
    f"""
    WITH mx AS (SELECT MAX(n_chars) AS max_chars FROM documents)
    SELECT doc_id, lang, n_chars,
           CAST(n_chars AS DOUBLE) / max_chars AS weight
    FROM documents, mx
    WHERE CAST({_key_duck} AS DOUBLE) / {WEIGHTED_SAMPLE_UNIT}
          < CAST(n_chars AS DOUBLE) / max_chars
    """,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sample: row kept iff
    hash_unit(doc_id) < weight, weight = n_chars / max(n_chars).

    The max is a 1-row aggregate broadcast onto the scan (no second
    pass, no driver action); the keep decision is then a pure map-side
    filter.  E[sample] = sum of weights, and the selection is stable
    under resharding — the property that makes weighted corpus
    curricula reproducible at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("max_chars"))
    unit = F.expr(_key_spark).cast("double") / F.lit(WEIGHTED_SAMPLE_UNIT)
    weight = F.col("n_chars").cast("double") / F.col("max_chars")
    return (
        docs.crossJoin(F.broadcast(mx))
        .where(unit < weight)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            # RAW quotient: n_chars/max_chars are exact ints and the
            # division tree is identical in both engines, so the double
            # is bit-identical — ROUND(,4) itself splits at decimal
            # halves over bit-identical inputs (r08 policy)
            weight.alias("weight"),
        )
    )


# PII-style scrubbing. The corpus is synthetic word-soup, so the
# entity list is chosen to actually FIRE here (whole-word domain terms
# standing in for names); the email pattern is the real-world shape and
# simply matches zero times on this corpus — both are exercised by the
# same machinery. \b is an ASCII word boundary in both Java regex
# (Spark) and RE2 (DuckDB). The email local part is capped at RFC
# 5321's 64 octets: an unbounded `+@` makes Java's backtracking matcher
# rescan to the end of an '@'-free string from every start position,
# quadratic in the document length (10.1 s for one 40 000-char doc).
REDACT_ENTITY_PATTERN = r"\b(customer|supplier|account)\b"
REDACT_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
REDACT_TOKEN = "<ENT>"


@query(
    "text_redact",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{REDACT_ENTITY_PATTERN}')) AS INT)
             AS n_entities,
           CAST(len(regexp_extract_all(text, '{REDACT_EMAIL_PATTERN}')) AS INT)
             AS n_emails,
           md5(regexp_replace(
                 regexp_replace(text, '{REDACT_ENTITY_PATTERN}', '{REDACT_TOKEN}', 'g'),
                 '{REDACT_EMAIL_PATTERN}', '<EMAIL>', 'g'))
             AS redacted_md5
    FROM documents
    """,
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing for training-corpus hygiene: count + replace entity /
    email patterns per document. Pure map-side codegen'd expressions
    (regexp_count / regexp_replace), zero shuffles — the scale cost is
    one scan. The redacted body is emitted as an md5 so the driver
    hash-checks the full transformation without shipping document
    bodies around; a real pipeline would write the redacted text
    column itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace("text", REDACT_ENTITY_PATTERN, REDACT_TOKEN),
        REDACT_EMAIL_PATTERN,
        "<EMAIL>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(REDACT_ENTITY_PATTERN))
        .cast("int")
        .alias("n_entities"),
        F.regexp_count("text", F.lit(REDACT_EMAIL_PATTERN))
        .cast("int")
        .alias("n_emails"),
        F.md5(redacted).alias("redacted_md5"),
    )


# Quality-funnel gates (cumulative). Thresholds sit inside the observed
# corpus distributions (p10 token count 20, median ttr 0.46, max
# repetition 0.30) so every stage removes a real slice — the funnel
# numbers are meaningful, not vacuous 100% pass-throughs.
FUNNEL_MIN_TOKENS = QUALITY_MIN_TOKENS
FUNNEL_TTR_MIN = 0.4
FUNNEL_REP_MAX = REPETITION_MAX_FRAC


def _funnel_doc_metrics(docs: DataFrame) -> DataFrame:
    """Per-doc (topc, n, ntypes) token metrics — the single source the
    funnel report AND the kept-set share (one explode + two hash
    aggregates)."""
    toks = docs.select("doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("tok"))
    cnt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.max("c").alias("topc"),
        F.sum("c").alias("n"),
        F.count("*").alias("ntypes"),
    )


def _funnel_gates() -> tuple[F.Column, F.Column, F.Column]:
    """The three cumulative gate predicates over the metric columns —
    defined ONCE so the funnel counts and the kept set cannot drift."""
    g_len = F.col("n") >= FUNNEL_MIN_TOKENS
    g_ttr = g_len & (F.col("ntypes") * 1.0 / F.col("n") >= FUNNEL_TTR_MIN)
    g_rep = g_ttr & (F.col("topc") * 1.0 / F.col("n") <= FUNNEL_REP_MAX)
    return g_len, g_ttr, g_rep




@query(
    "corpus_quality_funnel",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents
    ),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    pd AS (
      SELECT doc_id, MAX(c) AS topc, CAST(SUM(c) AS BIGINT) AS n,
             COUNT(*) AS ntypes
      FROM cnt GROUP BY doc_id
    ),
    gates AS (
      SELECT doc_id,
             CAST(n >= {FUNNEL_MIN_TOKENS} AS INT) AS g_len,
             CAST(n >= {FUNNEL_MIN_TOKENS}
                  AND ntypes * 1.0 / n >= {FUNNEL_TTR_MIN} AS INT) AS g_ttr,
             CAST(n >= {FUNNEL_MIN_TOKENS}
                  AND ntypes * 1.0 / n >= {FUNNEL_TTR_MIN}
                  AND topc * 1.0 / n <= {FUNNEL_REP_MAX} AS INT) AS g_rep
      FROM pd
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_total,
           CAST(SUM(g_len) AS BIGINT) AS n_len_ok,
           CAST(SUM(g_ttr) AS BIGINT) AS n_diverse,
           CAST(SUM(g_rep) AS BIGINT) AS n_clean
    FROM gates
    """,
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard pre-training filter funnel as ONE aggregation:
    survivors after each cumulative gate (min length → lexical
    diversity → repetition). The per-doc metrics need one explode and
    two hash aggregates; the funnel itself is conditional SUMs in the
    same final agg — no extra scans per stage, which is the difference
    between one pass and four at corpus scale. All gates are exact
    integer ratios, bitwise equal across engines."""
    docs = load_table(spark, sf_dir, "documents")
    pd = _funnel_doc_metrics(docs)
    g_len, g_ttr, g_rep = _funnel_gates()
    # n_total counts DOCUMENTS, not metric rows: zero-token and
    # NULL-text docs fall out of the explode before the metric
    # aggregate in BOTH engines, so the old COUNT(*) over metrics
    # under-reported the corpus and the first-gate removal slice
    # silently omitted exactly the docs the min-length gate exists to
    # remove — both engines agreed on the wrong number, the
    # parity-invisible class (r08 review). 1-row broadcast, no
    # second aggregation pass over tokens.
    tot = docs.agg(F.count("*").alias("n_total"))
    return (
        pd.agg(
            F.sum(g_len.cast("int")).alias("n_len_ok"),
            F.sum(g_ttr.cast("int")).alias("n_diverse"),
            F.sum(g_rep.cast("int")).alias("n_clean"),
        )
        .crossJoin(F.broadcast(tot))
        .select("n_total", "n_len_ok", "n_diverse", "n_clean")
    )


NGRAM_TOP_K = 20


@query(
    "text_bigram_topk",
    f"""
    WITH t AS (SELECT {_TOKS_DUCK} AS toks FROM documents),
    b AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t
    )
    SELECT bigram, COUNT(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {NGRAM_TOP_K}
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics (the input to contamination
    screens, boilerplate detection, and tokenizer training): top-K
    bigrams by frequency. Bigrams are built positionally inside the
    array (transform over sequence — Spark's sequence(1,0) counts DOWN,
    hence the size guard), so the only explode is the bigram Generate;
    count + orderBy.limit compiles to partial aggs feeding
    TakeOrderedAndProject — no global sort at any corpus size. Ties
    break on the bigram string in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.expr(_TOKS_SPARK).alias("toks"))
    bigrams = F.expr(
        "IF(size(toks) < 2, array(), "
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1))))"
    )
    return (
        t.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(NGRAM_TOP_K)
    )


# --- Corpus-mixing operators -------------------------------------------------
# Training mixtures are defined per stratum (language/source): rates to
# DOWNsample over-represented strata, integer repeat factors to
# UPsample scarce ones, then packing into fixed token budgets. All
# deterministic (key-hash / positional) so reruns and engines agree.
STRATA_KEEP_PCT = {"en": 30}  # downsample English to ~30%; others kept
STRATA_DEFAULT_PCT = 100
MIX_REPEATS = {"zh": 3, "fr": 2}  # upsample scarce languages
MIX_DEFAULT_REPEAT = 1
PACK_TOKEN_BUDGET = 512


def _keep_pct_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lg}' THEN {pct}" for lg, pct in STRATA_KEEP_PCT.items()
    )
    return f"CASE {whens} ELSE {STRATA_DEFAULT_PCT} END"


def _repeat_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lg}' THEN {n}" for lg, n in MIX_REPEATS.items()
    )
    return f"CASE {whens} ELSE {MIX_DEFAULT_REPEAT} END"


@query(
    "docs_stratified_sample",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ({_key_duck} % 100) < ({_keep_pct_sql()})
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-rebalancing
    step (keep 30% of over-represented English, all of everything
    else). Same shuffle-free key-hash-bucket idiom as docs_hash_sample,
    with the rate looked up per row from the stratum column; a pure
    map-side filter at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(
        (F.expr(_key_spark) % 100) < F.expr(_keep_pct_sql())
    ).select("doc_id", "lang", "source")


@query(
    "corpus_mix_upsample",
    f"""
    SELECT doc_id, lang,
           CAST(copy_idx AS BIGINT) AS copy_idx,
           doc_id * 10 + copy_idx AS sample_id
    FROM (
      SELECT doc_id, lang,
             unnest(generate_series(1, {_repeat_sql()})) AS copy_idx
      FROM documents
    )
    """,
)
def corpus_mix_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture upsampling: integer repeat factors per stratum
    (3x Chinese, 2x French) materialized as explicit copies with
    stable synthetic sample ids — how a mixing pipeline feeds
    epoch-level repetition without shuffling or RNG. The explode is
    map-side (Generate); output size = sum of factors, known up
    front. sample_id = doc_id*10 + copy_idx stays collision-free
    while factors < 10."""
    docs = load_table(spark, sf_dir, "documents")
    rep = docs.select(
        "doc_id",
        "lang",
        F.explode(F.expr(f"sequence(1, {_repeat_sql()})")).alias("copy_idx"),
    )
    return rep.select(
        "doc_id",
        "lang",
        F.col("copy_idx").cast("bigint").alias("copy_idx"),
        (F.col("doc_id") * 10 + F.col("copy_idx")).alias("sample_id"),
    )


@query(
    "chunk_pack_sequences",
    f"""
    WITH t AS (
      -- COALESCE mirrors the Spark side's empty-array launder of a
      -- NULL-text doc: len(NULL) is NULL here, and a NULL token count
      -- would both emit NULL and silently drop out of the running
      -- packing sum (r07 review)
      SELECT doc_id, lang,
             CAST(len(COALESCE({_TOKS_DUCK}, [])) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             -- NULLS FIRST: a keyless doc still occupies stream
             -- space; Spark packs it first, DuckDB last, shifting
             -- every later offset in the stream (r09 sweep).
             -- n_tokens tie-break: duplicate doc_ids with DIFFERENT
             -- texts in one lang otherwise leave the per-row cum
             -- engine-order-dependent (r11 window audit; rows tied on
             -- the FULL order are interchangeable, so the readout is
             -- total again)
             SUM(n_tokens) OVER (PARTITION BY lang
                                 ORDER BY doc_id NULLS FIRST, n_tokens
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS stream_offset,
           CAST((cum - n_tokens) // {PACK_TOKEN_BUDGET} AS BIGINT) AS pack_id
    FROM c
    """,
)
def chunk_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget
    training sequences by cumulative offset within their (language)
    stream — the deterministic streaming form of packing (greedy
    bin-packing is inherently sequential; offset-division packing is
    its order-preserving, embarrassingly-parallel approximation, and
    what array-concatenation loaders actually do). The running sum is
    range-SLICED (functions/windows.sliced_prefix_sum, r11 window
    audit): one dominant language would otherwise pack the whole
    corpus in a single task — the sorted-neighborhood shape again.
    Integer DIV keeps the pack assignment exact cross-engine."""
    from ..functions.windows import sliced_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        # coalesce the NULL-text token array: Spark size(NULL) = -1
        # would shift every later doc's stream_offset/pack_id in the
        # stream (r07 review); an empty array packs as a 0-token doc
        F.size(F.expr(f"coalesce({_TOKS_SPARK}, array())"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    c = sliced_prefix_sum(
        t,
        ["lang"],
        [F.col("doc_id"), F.col("n_tokens")],  # see oracle tie-break note
        "n_tokens",
        "cum",
    )
    off = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        off.alias("stream_offset"),
        F.expr(f"CAST((cum - n_tokens) DIV {PACK_TOKEN_BUDGET} AS BIGINT)").alias(
            "pack_id"
        ),
    )


# --- Boilerplate removal (CCNet-style line dedup) ---------------------------
# Real web pipelines hash each LINE and drop lines whose corpus
# document-frequency marks them as boilerplate (navbars, footers,
# cookie banners). The testdata documents are flat token streams with
# no newlines, so the "line" unit here is a fixed-width token segment —
# identical mechanics (segment → hash → corpus DF → threshold → drop →
# reconstruct in position order), different segmentation constant.
BOILERPLATE_SEG_TOKENS = 2
BOILERPLATE_MAX_DOCS = 19  # a segment in >19 distinct docs is boilerplate


def _segments_sql(*, duck: bool) -> str:
    """Array of non-overlapping BOILERPLATE_SEG_TOKENS-token segment
    strings from a `toks` array column, in position order."""
    n = BOILERPLATE_SEG_TOKENS
    if duck:
        return (
            f"list_transform(generate_series(1, "
            f"CAST(ceil(len(toks) / {n}.0) AS BIGINT)), "
            f"i -> array_to_string(toks[(i-1)*{n}+1 : i*{n}], ' '))"
        )
    # Spark sequence(1,0) counts DOWN — guard empty docs explicitly.
    # coalesce(size, 0) <= 0 covers BOTH Spark semantics for a NULL
    # array (legacy sizeOfNull = -1, ANSI = NULL): the bare = 0 test
    # missed NULL under legacy (-1), where ceil(-1/2.0) = 0 made
    # sequence(1, 0) count DOWN and emit two phantom '' segments while
    # the DuckDB oracle unnests zero rows (r08 review; the sibling
    # helpers' size < n guards cover -1 the same way).
    return (
        f"IF(coalesce(size(toks), 0) <= 0, array(), "
        f"transform(sequence(1, CAST(ceil(size(toks) / {n}.0) AS BIGINT)), "
        f"i -> concat_ws(' ', slice(toks, CAST((i-1)*{n}+1 AS INT), {n}))))"
    )


@query(
    "text_boilerplate_removal",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    seg AS (
      SELECT doc_id, u['p'] AS seg_pos, u['s'] AS seg
      FROM (SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, CAST(ceil(len(toks)
                       / {BOILERPLATE_SEG_TOKENS}.0) AS BIGINT)),
                     i -> {{'p': i, 's': array_to_string(
                       toks[(i-1)*{BOILERPLATE_SEG_TOKENS}+1
                            : i*{BOILERPLATE_SEG_TOKENS}], ' ')}})) AS u
            FROM t)
    ),
    df AS (SELECT seg, COUNT(DISTINCT doc_id) AS seg_df FROM seg GROUP BY 1)
    SELECT s.doc_id,
           -- ", s.seg" tie-break: a duplicated doc_id (two bodies
           -- under one id — r10 third-wave sweep) makes seg_pos alone
           -- non-total, and DuckDB's unspecified tie order diverged
           -- from Spark's total struct(seg_pos, seg) sort
           string_agg(s.seg, ' ' ORDER BY s.seg_pos, s.seg)
             FILTER (WHERE f.seg_df <= {BOILERPLATE_MAX_DOCS})
             AS cleaned_text,
           COUNT(*) FILTER (WHERE f.seg_df > {BOILERPLATE_MAX_DOCS})
             AS removed_segments,
           COUNT(*) AS total_segments
    FROM seg s JOIN df f USING (seg)
    GROUP BY 1
    """,
)
def text_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: hash every fixed-width token
    segment ("line"), compute each segment's corpus document frequency,
    drop segments appearing in more than {BOILERPLATE_MAX_DOCS} distinct
    documents, and reconstruct each document from its surviving
    segments in original order (NULL text when everything was
    boilerplate — the row survives with its removal counts, so the
    funnel downstream sees the doc was fully boilerplate rather than
    losing it).

    Scale: one Generate (posexplode of the per-doc segment array), one
    distinct-count agg on the segment string, and an equi-join of
    segments to their DF — all shuffles key on the segment text, which
    is bounded by segment-vocabulary size, not corpus size. The
    reconstruct groups by doc_id and orders within the row via
    array_sort(struct(pos, seg)) — no window, no global sort. At
    100 TB the DF frame is exactly the boilerplate dictionary a real
    pipeline would persist and reuse."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    seg = t.select(
        "doc_id",
        F.posexplode(F.expr(_segments_sql(duck=False))).alias("pos0", "seg"),
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("seg_pos"), "seg")
    seg_df = seg.groupBy("seg").agg(
        F.countDistinct("doc_id").alias("seg_df")
    )
    keep = F.col("seg_df") <= BOILERPLATE_MAX_DOCS
    return (
        seg.join(seg_df, "seg")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list("
                f"IF(seg_df <= {BOILERPLATE_MAX_DOCS}, "
                "struct(seg_pos, seg), NULL))), x -> x.seg))"
            ).alias("_joined"),
            F.count_if(~keep).cast("bigint").alias("removed_segments"),
            F.count("*").cast("bigint").alias("total_segments"),
        )
        .select(
            "doc_id",
            # string_agg over zero rows is NULL; concat_ws over an empty
            # array is '' — align Spark to the SQL convention.
            F.when(
                F.col("removed_segments") == F.col("total_segments"), None
            )
            .otherwise(F.col("_joined"))
            .alias("cleaned_text"),
            "removed_segments",
            "total_segments",
        )
    )


# --- Tokenizer vocabulary coverage ------------------------------------------
@query(
    "text_vocab_coverage",
    f"""
    WITH tok AS (SELECT unnest({_TOKS_DUCK}) AS token FROM documents),
    counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM counts)
    SELECT token, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS rank,
           CAST(SUM(n) OVER (ORDER BY n DESC, token
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS DOUBLE) / tot.total
             AS cum_coverage
    FROM counts, tot
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction stats: every corpus token with
    its frequency, frequency rank, and cumulative corpus coverage —
    the curve you read a BPE/unigram vocab size off ("top-N tokens
    cover X% of the corpus").

    Coverage is a running exact-integer sum divided by the exact total
    (single IEEE division — bitwise cross-engine); ranking ties break
    on the token string.

    Scale: the token count agg is map-side-combined by Catalyst.  The
    global (rank, cumulative-sum) order is decomposed so no window ever
    sees the whole vocabulary on one partition: a running sum over
    DISTINCT FREQUENCY LEVELS (O(sqrt(corpus)) rows by Zipf — the
    frequency multiset n_1>=n_2>=... summing to N admits at most
    ~sqrt(2N) distinct values) gives each level its tokens-before and
    mass-before, and a window PARTITIONED by frequency (distributed)
    ranks tokens alphabetically within a level.  rank = tokens_before
    + intra_rank; cumulative mass = mass_before + n * intra_rank since
    every token at a level contributes the same n.  The tiny level
    table broadcasts back onto the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.expr(_TOKS_SPARK)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    levels = counts.groupBy("n").agg(F.count("*").alias("n_tokens"))
    wl = Window.orderBy(F.desc("n")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    level_mass = F.col("n_tokens") * F.col("n")
    levels = levels.select(
        "n",
        (F.sum("n_tokens").over(wl) - F.col("n_tokens")).alias(
            "tokens_before"
        ),
        (F.sum(level_mass).over(wl) - level_mass).alias("mass_before"),
    )
    tot = counts.agg(F.sum("n").cast("double").alias("total"))
    wr = Window.partitionBy("n").orderBy("token")
    return (
        counts.withColumn("rn", F.row_number().over(wr))
        .join(F.broadcast(levels), "n")
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            "n",
            (F.col("tokens_before") + F.col("rn")).cast("int").alias("rank"),
            (
                (F.col("mass_before") + F.col("n") * F.col("rn")).cast(
                    "double"
                )
                / F.col("total")
            ).alias("cum_coverage"),
        )
    )


# --- Corpus-wide segment-level dedup (first-writer-wins) --------------------
# Dolma/RefinedWeb-style paragraph dedup adapted to this corpus's
# segment unit (no newlines — see the boilerplate-removal note): every
# occurrence of a segment after its first anywhere in the corpus is
# dropped, and documents are reconstructed from their surviving
# segments. The "first" occurrence is the corpus-global minimum of
# (doc_id, position), encoded as one BIGINT so the winner is a plain
# map-side-combinable MIN — no window over the segment key, so a
# boilerplate segment shared by millions of docs costs one aggregate
# row, never a sorted window partition.
_SEGDEDUP_POS_FACTOR = 1_000_000  # seg_pos < 1e6: docs are << 2M tokens


@query(
    "text_segment_dedup",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    seg AS (
      SELECT doc_id, u['p'] AS seg_pos, u['s'] AS seg
      FROM (SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, CAST(ceil(len(toks)
                       / {{seg_n}}.0) AS BIGINT)),
                     i -> {{{{'p': i, 's': array_to_string(
                       toks[(i-1)*{{seg_n}}+1 : i*{{seg_n}}], ' ')}}}})) AS u
            FROM t)
    ),
    first AS (
      SELECT seg,
             MIN(doc_id * {_SEGDEDUP_POS_FACTOR} + seg_pos) AS keep_key
      FROM seg GROUP BY 1
    )
    SELECT s.doc_id,
           -- ", s.seg" tie-break: see text_boilerplate_removal (a
           -- duplicated doc_id makes seg_pos alone non-total)
           string_agg(s.seg, ' ' ORDER BY s.seg_pos, s.seg)
             FILTER (WHERE s.doc_id * {_SEGDEDUP_POS_FACTOR} + s.seg_pos
                           = f.keep_key)
             AS deduped_text,
           COUNT(*) FILTER (WHERE s.doc_id * {_SEGDEDUP_POS_FACTOR}
                                  + s.seg_pos = f.keep_key)
             AS kept_segments,
           COUNT(*) AS total_segments
    FROM seg s JOIN first f USING (seg)
    GROUP BY 1
    """.format(seg_n=BOILERPLATE_SEG_TOKENS),
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global segment dedup: keep each distinct segment's first
    occurrence (min (doc_id, pos)), drop every other occurrence, and
    reconstruct documents from what survives (NULL text when nothing
    did — the row keeps its counts so downstream sees "fully
    duplicate" rather than losing the doc).

    Scale: one Generate, one map-side-combined MIN per distinct
    segment, one equi-join of segments to their winner, one
    reconstruct agg ordered in-row via array_sort — no windows, no
    self-joins; shuffle keys are the segment text (vocabulary-bounded)
    and doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    seg = t.select(
        "doc_id",
        F.posexplode(F.expr(_segments_sql(duck=False))).alias("pos0", "seg"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("bigint").alias("seg_pos"),
        "seg",
    )
    owner = F.col("doc_id") * _SEGDEDUP_POS_FACTOR + F.col("seg_pos")
    first = seg.groupBy("seg").agg(F.min(owner).alias("keep_key"))
    kept = owner == F.col("keep_key")
    return (
        seg.join(first, "seg")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list("
                f"IF(doc_id * {_SEGDEDUP_POS_FACTOR} + seg_pos = keep_key, "
                "struct(seg_pos, seg), NULL))), x -> x.seg))"
            ).alias("_joined"),
            F.count_if(kept).cast("bigint").alias("kept_segments"),
            F.count("*").cast("bigint").alias("total_segments"),
        )
        .select(
            "doc_id",
            # string_agg over zero kept rows is NULL; concat_ws gives ''
            F.when(F.col("kept_segments") == 0, None)
            .otherwise(F.col("_joined"))
            .alias("deduped_text"),
            "kept_segments",
            "total_segments",
        )
    )


# --- Per-source document cap (domain balancing) -----------------------------
# Common-crawl-style per-domain cap: keep at most N docs per source,
# chosen deterministically by a hash order so the kept subset is stable
# across runs and machines. Executed as a SALTED TWO-PHASE top-N: phase
# 1 ranks within (source, salt) — SOURCE_CAP_SALT× the parallelism of a
# per-source window and immune to one giant source hot-spotting a
# single partition; phase 2 ranks the ≤ salt×N phase-1 survivors per
# source. The composition is exactly the single per-source window the
# oracle runs, so the hash match proves the salting transparent.
SOURCE_CAP_N = 10
SOURCE_CAP_SALT = 8


@query(
    "docs_source_cap",
    f"""
    SELECT doc_id, source, source_rank FROM (
      SELECT doc_id, source,
             -- NULLS FIRST: a keyless doc hashes to a NULL order
             -- key, which Spark ranks first and DuckDB last,
             -- shifting every rank after it (r09 degenerate sweep)
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_key_duck} NULLS FIRST,
                        doc_id NULLS FIRST) AS INT) AS source_rank
      FROM documents
    ) WHERE source_rank <= {SOURCE_CAP_N}
    """,
)
def docs_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(_key_spark).alias("rk"),
    )
    salted = docs.withColumn("salt", F.col("rk") % SOURCE_CAP_SALT)
    w1 = Window.partitionBy("source", "salt").orderBy("rk", "doc_id")
    survivors = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= SOURCE_CAP_N)
        .drop("rn1", "salt")
    )
    w2 = Window.partitionBy("source").orderBy("rk", "doc_id")
    return (
        survivors.withColumn(
            "source_rank", F.row_number().over(w2).cast("int")
        )
        .where(F.col("source_rank") <= SOURCE_CAP_N)
        .select("doc_id", "source", "source_rank")
    )


# --- Unigram LM surprisal (perplexity-style quality score) ------------------
# CCNet/Wikipedia-LM-style quality signal without an external model:
# train the unigram LM on the corpus itself (token counts), then score
# each document by its mean token surprisal -mean(log2 p(tok)).
# Low = boilerplate-like (all common tokens), high = noise-like (rare
# tokens). mean(-log2 p) = log2(total) - mean(log2 cnt), so every log2
# input is an exact integer; the per-doc mean of <=doc-length doubles
# is the only order-sensitive sum, absorbed by ROUND(..., 4).
@query(
    "text_unigram_surprisal",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS token
                 FROM documents),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS total FROM counts)
    SELECT t.doc_id,
           COUNT(*) AS n_scored_tokens,
           ROUND(log2(tot.total) - SUM(log2(c.cnt)) / COUNT(*), 4)
             AS mean_surprisal_bits
    FROM tok t JOIN counts c USING (token), tot
    GROUP BY t.doc_id, tot.total
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the LM ("counts") is vocabulary-sized and built in one
    map-side-combined pass; scoring is an equi-join of the token
    stream to it (broadcastable when the vocab fits, shuffled hash
    join otherwise — Catalyst/AQE picks) plus one aggregate per doc.
    In a real pipeline the counts frame is the artifact you persist
    and reuse across corpus snapshots."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("total"))
    return (
        tok.join(counts, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "total")
        .agg(
            F.count("*").alias("n_scored_tokens"),
            F.round(
                F.log2("total") - F.sum(F.log2("cnt")) / F.count("*"), 4
            ).alias("mean_surprisal_bits"),
        )
        .select("doc_id", "n_scored_tokens", "mean_surprisal_bits")
    )


# --- End-to-end corpus curation (the composed pipeline) ---------------------
# The capstone query: the full curation path a training-data run
# executes, composed from the same primitives the individual queries
# expose — exact dedup (keep the lowest doc_id per content hash),
# quality gates (min token count + gopher-style top-token repetition),
# then the deterministic hash split — emitting one row per SURVIVING
# doc with its split assignment. Every stage is a filter or a
# map-combinable aggregate+join on hash keys; the composition adds no
# new shuffle class, which is the point: curation at 100 TB is these
# three linear passes fused into one plan by Catalyst.
@query(
    "corpus_curation_e2e",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_DUCK} AS toks, md5(text) AS chash
      FROM documents
    ),
    keeper AS (
      SELECT doc_id, toks FROM t
      WHERE doc_id = (SELECT MIN(t2.doc_id) FROM t t2
                      WHERE t2.chash = t.chash)
    ),
    quality AS (
      SELECT k.doc_id, len(k.toks) AS n_tokens
      FROM keeper k,
           LATERAL (SELECT MAX(cnt) AS top_cnt FROM (
             SELECT COUNT(*) AS cnt FROM unnest(k.toks) AS u(tok)
             GROUP BY tok)) m
      WHERE len(k.toks) >= {QUALITY_MIN_TOKENS}
        AND m.top_cnt * 1.0 / len(k.toks) <= {REPETITION_MAX_FRAC}
    )
    SELECT doc_id, n_tokens,
           CASE WHEN {_SPLIT_BUCKET_DUCK} < 90 THEN 'train'
                WHEN {_SPLIT_BUCKET_DUCK} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM quality
    """,
)
def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup → quality-gate → split, as ONE Catalyst plan.

    Dedup keeps MIN(doc_id) per md5(text) via an aggregate+self-join
    on the 16-byte hash (never a window over content). The repetition
    gate computes the top-token count IN-ROW with higher-order
    functions (aggregate over array_distinct — no explode, no extra
    shuffle). The split is the shuffle-free hash bucket. Net shuffle
    cost of the whole pipeline: ONE groupBy on the content hash."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.expr(_TOKS_SPARK).alias("toks"),
        F.md5("text").alias("chash"),
    )
    keeper_ids = t.groupBy("chash").agg(F.min("doc_id").alias("doc_id"))
    keeper = t.join(keeper_ids, ["chash", "doc_id"]).select("doc_id", "toks")
    top_cnt = F.expr(
        "aggregate(array_distinct(toks), 0, (acc, w) -> "
        "greatest(acc, size(filter(toks, x -> x = w))))"
    )
    quality = keeper.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        top_cnt.alias("top_cnt"),
    ).where(
        (F.col("n_tokens") >= QUALITY_MIN_TOKENS)
        & (F.col("top_cnt") * 1.0 / F.col("n_tokens") <= REPETITION_MAX_FRAC)
    )
    return quality.select(
        "doc_id",
        "n_tokens",
        # the ONE split rule (split_label_sql) — hand-written copies of
        # the 90/5/5 CASE drifted across three call sites (r08 review)
        F.expr(split_label_sql()).alias("split"),
    )


# --- Global shuffle-and-shard export order ----------------------------------
# The standard last step before training: a GLOBAL pseudo-random shuffle
# of the corpus, materialized as N shards whose union is the corpus and
# whose internal order is decorrelated from ingest order (source, crawl
# date, doc_id locality). Randomness comes from the deterministic key
# hash, so the assignment is reproducible across runs, engines, and
# partitionings — rand() would give a different corpus every run.
#
# Scale: shard = hash % N is a pure map; shard_pos is a row_number over
# (shard) partitions, i.e. one shuffle on the shard key + a per-shard
# sort. N scales with the corpus (pick N so a shard ~= one ~256 MB-1 GB
# output file; O(100k) shards at 100 TB), so per-shard state stays
# bounded and no single task ever sees more than corpus/N rows. A
# writer would follow with repartition("shard") +
# sortWithinPartitions("shard_pos") — same shuffle, zero extra passes.
SHUFFLE_NSHARDS = 8


@query(
    "docs_shuffle_shards",
    f"""
    SELECT doc_id,
           CAST({_key_duck} % {SHUFFLE_NSHARDS} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY {_key_duck} % {SHUFFLE_NSHARDS}
             ORDER BY {_key_duck}, doc_id) AS INT) AS shard_pos
    FROM documents
    """,
)
def docs_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: hash-assigned shard + in-shard
    pseudo-random position for every document (see block comment)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_key_spark).alias("rk")
    )
    w = Window.partitionBy("shard").orderBy("rk", "doc_id")
    return (
        docs.withColumn("shard", (F.col("rk") % SHUFFLE_NSHARDS).cast("int"))
        .withColumn("shard_pos", F.row_number().over(w).cast("int"))
        .select("doc_id", "shard", "shard_pos")
    )


# --- Recursive-CTE dechunk (Spark 4 WITH RECURSIVE) -------------------------
# Rebuilds every multi-token document from its overlapping chunks with
# a recursive CTE — the chunk chain (doc_id, k) → (doc_id, k+1) is a
# strict DAG, so UNION ALL recursion terminates without a level guard:
# depth = max chunks per doc = ceil((max_tokens - overlap) / step)
# (~5 on this corpus; a production corpus with longer docs raises the
# engine's 100-level default via `MAX RECURSION LEVEL n` in the CTE).
#
# Scale: each recursion level is ONE hash join between the shrinking
# frontier (docs with > level chunks) and the chunk frame keyed by
# (doc_id, chunk_id); summed over levels the work is linear in the
# total number of chunks. The aggregate dechunk (tests prove
# chunk→dechunk exactness) is the one-shuffle batch path; this is the
# SQL-native formulation, and the DuckDB oracle runs the identical
# recursion, so the exact string reconstruction is hash-checked
# end-to-end.
_REBUILD_TAIL_SPARK = (
    f"array_join(slice(split(c.chunk_text, ' '), {CHUNK_OVERLAP + 1},"
    f" {CHUNK_TOKENS}), ' ')"
)
_REBUILD_TAIL_DUCK = (
    f"array_to_string((string_split(c.chunk_text, ' '))"
    f"[{CHUNK_OVERLAP + 1}:{CHUNK_TOKENS + CHUNK_OVERLAP}], ' ')"
)


# Recursion depth bound for the Spark side = max chunks per doc the
# rebuild can walk. Spark caps recursive CTEs at 100 levels by default
# and ABORTS past it, while DuckDB iterates to fixpoint — a 5000-token
# document (>100 chunks) killed the Spark side only (r09 degenerate
# sweep). 100k levels covers ~6M-token docs at the 64-token chunk
# grain; genuinely unbounded docs belong to the iterative dechunk
# operator, not a recursive CTE.
DECHUNK_MAX_LEVELS = 100_000


def _dechunk_recursive_sql(
    chunks_rel: str, tail_expr: str, head_ctes: str = "",
    level_clause: str = "",
) -> str:
    """Shared recursion text; only the chunk relation, the
    slice-dialect fragment, optional leading CTEs, and the Spark-only
    MAX RECURSION LEVEL clause differ between engines (the oracle
    inlines the chunk query as a leading CTE — both engines want
    exactly ONE combined WITH RECURSIVE clause; DuckDB has no level
    cap to raise)."""
    return f"""
    WITH RECURSIVE {head_ctes}rebuild(doc_id, chunk_id, acc){level_clause} AS (
      SELECT doc_id, chunk_id, chunk_text AS acc
      FROM {chunks_rel} WHERE chunk_id = 0
      UNION ALL
      SELECT c.doc_id, c.chunk_id, concat(r.acc, ' ', {tail_expr})
      FROM rebuild r
      JOIN {chunks_rel} c
        ON c.doc_id = r.doc_id AND c.chunk_id = r.chunk_id + 1
    ),
    last AS (
      SELECT doc_id, MAX(chunk_id) AS m FROM {chunks_rel} GROUP BY doc_id
    )
    SELECT r.doc_id,
           CAST(r.chunk_id + 1 AS INT) AS n_chunks,
           r.acc AS rebuilt_text
    FROM rebuild r
    JOIN last l ON r.doc_id = l.doc_id AND r.chunk_id = l.m
    """


@query(
    "text_dechunk_sql",
    _dechunk_recursive_sql(
        "chunks_v",
        _REBUILD_TAIL_DUCK,
        head_ctes=f"chunks_v AS ({ORACLES['text_chunk']}),\n    ",
    ),
)
def text_dechunk_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE document reconstruction (see block comment).

    The chunk frame is registered under a per-invocation unique view
    name: a fixed session-global name let two concurrent invocations
    in one SparkSession swap the view out from under each other's
    not-yet-executed plans (r06 review catch)."""
    import uuid

    view = f"dechunk_chunks_{uuid.uuid4().hex}"
    QUERIES["text_chunk"](spark, sf_dir).createOrReplaceTempView(view)
    try:
        # spark.sql analyzes eagerly, so the returned DataFrame's plan
        # no longer needs the catalog entry — drop it immediately or
        # every invocation leaks a temp view for the session lifetime
        return spark.sql(
            _dechunk_recursive_sql(
                view,
                _REBUILD_TAIL_SPARK,
                level_clause=f" MAX RECURSION LEVEL {DECHUNK_MAX_LEVELS}",
            )
        )
    finally:
        spark.catalog.dropTempView(view)


# ---------------------------------------------------------------------------
# Collocation mining: bigram lift (PMI's exact-arithmetic core)
# ---------------------------------------------------------------------------
# Tokenizer curricula and phrase-vocab induction rank bigrams by how
# much MORE often they co-occur than independence predicts:
# lift(a,b) = p(ab) / (p(a)·p(b)) = c_ab·N² / (B·c_a·c_b) — PMI is
# ln(lift), a monotone map, so ranking by lift IS ranking by PMI while
# staying in exact arithmetic: the numerator and denominator are exact
# int64 products (bounded: N ≤ 2^17 at bench scale keeps N²·c_ab well
# under 2^53) and the final division of two exactly-representable
# integers is the same IEEE double in every engine. At 100 TB the
# products outgrow int64 — the documented migration is DECIMAL(38)
# intermediates, same plan shape. A min-count floor drops the
# hapax-pair noise that dominates raw PMI rankings.
PMI_MIN_COUNT = 5
PMI_TOP_K = 15


@query(
    "text_bigram_pmi",
    f"""
    WITH t AS (SELECT {_TOKS_DUCK} AS toks FROM documents),
    u AS (SELECT unnest(toks) AS w FROM t),
    uc AS (SELECT w, COUNT(*) AS c FROM u GROUP BY w),
    n AS (SELECT COUNT(*) AS n FROM u),
    b AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS bg
      FROM t
    ),
    bc AS (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c_ab
           FROM b GROUP BY 1, 2),
    bt AS (SELECT COUNT(*) AS b FROM b)
    SELECT w1, w2, c_ab, ca.c AS c_a, cb.c AS c_b,
           (c_ab * n.n * n.n) * 1.0 / (bt.b * ca.c * cb.c) AS lift
    FROM bc, n, bt
    JOIN uc ca ON bc.w1 = ca.w
    JOIN uc cb ON bc.w2 = cb.w
    WHERE c_ab >= {PMI_MIN_COUNT}
    ORDER BY lift DESC, w1, w2
    LIMIT {PMI_TOP_K}
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K bigrams by independence lift (monotone in PMI), exact.

    Plan: one token explode feeds both the unigram counts and (via the
    positional struct transform) the bigram counts; totals are 1-row
    aggregates broadcast into the scoring join; the two unigram-count
    joins key on the word string. orderBy.limit compiles to
    TakeOrderedAndProject — no global sort. The bigram→unigram joins
    broadcast only if stats allow; at corpus scale they are plain hash
    joins on the word key, with hot words (stopwords) bounded because
    the min-count floor is applied BEFORE the join on the already
    aggregated bigram side."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.expr(_TOKS_SPARK).alias("toks"))
    u = t.select(F.explode("toks").alias("w"))
    uc = u.groupBy("w").agg(F.count("*").alias("c"))
    n = u.agg(F.count("*").alias("n"))
    bg = F.expr(
        "IF(size(toks) < 2, array(), "
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, i) AS w1, element_at(toks, i+1) AS w2)))"
    )
    b = t.select(F.explode(bg).alias("bg")).select("bg.w1", "bg.w2")
    bc = (
        b.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    bt = b.agg(F.count("*").alias("b"))
    ca = uc.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    cb = uc.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    lift = (F.col("c_ab") * F.col("n") * F.col("n")) * F.lit(1.0) / (
        F.col("b") * F.col("c_a") * F.col("c_b")
    )
    return (
        bc.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(bt))
        .join(ca, "w1")
        .join(cb, "w2")
        .select("w1", "w2", "c_ab", "c_a", "c_b", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(PMI_TOP_K)
    )




# ---------------------------------------------------------------------------
# BM25 keyword retrieval (top-k scoring, no index structure needed)
# ---------------------------------------------------------------------------
# Okapi BM25 for a fixed keyword query over the corpus — the retrieval
# scorer a curation pipeline uses for targeted corpus carving (e.g.
# "pull the top docs about X for a domain mix"). Every input to the
# score is an exact int64 (tf, df, dl, N, Σdl) aggregated map-side;
# the float chain on top is generated from ONE helper so the expression
# text is identical in both engines. Crucially there is NO float
# aggregation anywhere: the query terms are a fixed set, so per-term
# stats pivot into COLUMNS and the doc score is a fixed-order sum
# c_term1 + c_term2 + c_term3 — a float SUM() over shuffled rows would
# re-associate in engine-dependent order and flip the last ulp (seen
# in testing as a ROUND(…, 6) mismatch). Ranking runs on the ROUNDED
# score + doc_id so the top-k cut is tie-stable cross-engine. One
# token explode with the term filter pushed into it, two broadcast
# 1-row side frames, TakeOrdered top-k — no global sort, no window.
# Literals carry an e0 exponent: `1.2` alone parses as DECIMAL in BOTH
# engines, and decimal arithmetic chains round differently (measured:
# ~1e-7 relative drift — far beyond a double ulp); `1.2e0` parses as
# DOUBLE everywhere, keeping the whole chain in IEEE f64.
BM25_TERMS = ("vector", "stream", "merge")
BM25_K1 = "1.2e0"
BM25_B = "0.75e0"
BM25_TOP = 10


def _bm25_contrib(t: str) -> str:
    """Per-term score contribution over columns tf_{t}, df_{t}, dl,
    n_docs, sdl — one text, both engines."""
    return (
        f"CASE WHEN tf_{t} > 0 THEN "
        f"ln((n_docs - df_{t} + 0.5e0) / (df_{t} + 0.5e0) + 1.0e0)"
        f" * (tf_{t} * ({BM25_K1} + 1.0e0))"
        f" / (tf_{t} + {BM25_K1} * (1.0e0 - {BM25_B}"
        f" + {BM25_B} * dl * n_docs / sdl)) ELSE 0.0e0 END"
    )


_BM25_SCORE = "ROUND(" + " + ".join(_bm25_contrib(t) for t in BM25_TERMS) + ", 6)"
_BM25_NTERMS = " + ".join(
    f"CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END" for t in BM25_TERMS
)


@query(
    "text_bm25_topk",
    f"""
    WITH t AS (SELECT doc_id, COALESCE({_TOKS_DUCK}, []) AS toks
               FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sdl FROM t),
    tf AS (
      SELECT doc_id,
             {", ".join(f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS)},
             len(toks) AS dl
      FROM t
      WHERE {" OR ".join(f"list_contains(toks, '{t}')" for t in BM25_TERMS)}
    ),
    dfs AS (
      SELECT {", ".join(f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in BM25_TERMS)}
      FROM tf
    )
    SELECT doc_id,
           CAST({_BM25_NTERMS} AS INT) AS n_terms,
           {_BM25_SCORE} AS score
    FROM tf CROSS JOIN stats CROSS JOIN dfs
    ORDER BY {_BM25_SCORE} DESC, doc_id
    LIMIT {BM25_TOP}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # NULL-text coalesced to []: Spark size(NULL) = -1 under legacy
    # sizeOfNull SUBTRACTED a token per NULL doc from sdl while the
    # oracle's SUM skipped the row (the r07 text_token_stats class,
    # missed here — r08 review); with the coalesce both engines count
    # 0 for such docs under every semantics flag
    t = docs.select(
        "doc_id",
        F.expr(f"coalesce({_TOKS_SPARK}, array())").alias("toks"),
    )
    stats = t.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("toks")).alias("sdl"),
    )
    tf = t.where(
        F.expr(
            " OR ".join(
                f"array_contains(toks, '{w}')" for w in BM25_TERMS
            )
        )
    ).select(
        "doc_id",
        *[
            F.expr(f"size(filter(toks, x -> x = '{w}'))").alias(f"tf_{w}")
            for w in BM25_TERMS
        ],
        F.size("toks").alias("dl"),
    )
    dfs = tf.agg(
        *[
            F.sum(
                F.when(F.col(f"tf_{w}") > 0, 1).otherwise(0)
            ).alias(f"df_{w}")
            for w in BM25_TERMS
        ]
    )
    scored = tf.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(dfs))
    return (
        scored.select(
            "doc_id",
            F.expr(_BM25_NTERMS).cast("int").alias("n_terms"),
            F.expr(_BM25_SCORE).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOP)
    )


# ---------------------------------------------------------------------------
# N-gram novelty: how much of each doc is first-seen in the corpus?
# ---------------------------------------------------------------------------
# Redundancy-aware curation signal: the fraction of a doc's distinct
# shingles whose corpus-global FIRST owner (min doc_id) is the doc
# itself. Near-1 → fresh content; near-0 → reassembled boilerplate.
# Used to prioritize docs when sampling under a token budget. Plan:
# postings shuffle as 8-byte shingle hashes, one groupBy for the first
# owner, one join back, one groupBy per doc — all exact ints, novelty
# an exact-int ratio.
@query(
    "text_ngram_novelty",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT doc_id,
                  unnest({H.shingles_sql("toks", 3, duck=True)}) AS s
           FROM t),
    hx AS (SELECT doc_id, {H.md5_int64("s", duck=True)} AS h FROM sh),
    first_owner AS (SELECT h, MIN(doc_id) AS owner FROM hx GROUP BY h)
    SELECT hx.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.owner = hx.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.owner = hx.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty
    FROM hx JOIN first_owner f ON hx.h = f.h
    GROUP BY hx.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    hx = t.select(
        "doc_id",
        F.explode(F.expr(H.shingles_sql("toks", 3, duck=False))).alias("s"),
    ).select("doc_id", F.expr(H.md5_int64("s", duck=False)).alias("h"))
    first_owner = hx.groupBy("h").agg(F.min("doc_id").alias("owner"))
    novel = F.sum(
        F.when(F.col("owner") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        hx.join(first_owner, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.cast("bigint").alias("n_novel"),
            (novel.cast("double") / F.count("*")).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Reusable curation building blocks (examples/curate_corpus.py)
# ---------------------------------------------------------------------------
def quality_kept_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc ids surviving all three quality-funnel gates — the kept-set
    twin of ``corpus_quality_funnel`` (which reports only counts).
    Shares the funnel's metric frame and gate predicates, so the two
    views cannot drift."""
    return quality_gate_docs(load_table(spark, sf_dir, "documents"))


def quality_gate_docs(docs: DataFrame) -> DataFrame:
    """Doc ids of ``docs`` passing the final cumulative quality gate."""
    _, _, g_rep = _funnel_gates()
    return _funnel_doc_metrics(docs).where(g_rep).select("doc_id")


def split_label_sql() -> str:
    """SQL CASE assigning the deterministic 90/5/5 split label — the
    exact rule ``data_split_hash`` aggregates by, exposed for
    row-level tagging."""
    return (
        f"CASE WHEN {_SPLIT_BUCKET_SPARK} < 90 THEN 'train' "
        f"WHEN {_SPLIT_BUCKET_SPARK} < 95 THEN 'val' "
        "ELSE 'test' END"
    )


# ---------------------------------------------------------------------------
# In-plan n-gram LM scoring (Stupid Backoff) — perplexity-proxy signal
# ---------------------------------------------------------------------------
# The classic curation quality signal (CCNet/Gopher filter stage): score
# each document by how predictable its text is under an n-gram language
# model trained on a held split of the same corpus. Brants et al. 2007
# ("Large Language Models in Machine Translation") showed the Stupid
# Backoff score S(w2|w1) = c(w1 w2)/c(w1), backing off to alpha*c(w2)/N
# (alpha = 0.4 = 2/5), needs no discounting at scale and distributes
# trivially — counts are the only state.
#
# Exactness: scores are fixed-point milli-units via integer division
# ((cb*1000) DIV cw1; backoff (2*cu*1000) DIV (5*N)), and the doc
# aggregate is an integer SUM + DIV — bitwise identical in DuckDB.
# Scale shape: training is two count aggregates over the (hashed) train
# split; scoring is one bigram explode + two equi-joins against the
# count frames (shuffle on the bigram/unigram keys — map-side combined,
# no skew amplification: a hot bigram joins one count row).
LM_TRAIN_MOD = 2  # train split: doc_id % 2 = 0; scoring covers ALL docs
LM_ALPHA_NUM, LM_ALPHA_DEN = 2, 5  # Stupid Backoff alpha = 0.4


def _bigrams_sql(*, duck: bool) -> str:
    if duck:
        return (
            "list_transform(generate_series(1, len(toks) - 1), "
            "i -> {'w1': toks[i], 'w2': toks[i + 1]})"
        )
    return (
        "IF(size(toks) < 2, array(), "
        "transform(sequence(1, size(toks) - 1), "
        "i -> named_struct('w1', element_at(toks, i), "
        "'w2', element_at(toks, i + 1))))"
    )


_LM_MILLI = (
    "CASE WHEN cb IS NOT NULL THEN (cb * 1000) {div} cw1 "
    f"ELSE ({LM_ALPHA_NUM} * COALESCE(cu2, 0) * 1000) "
    f"{{div}} ({LM_ALPHA_DEN} * n_total) END"
)


@query(
    "text_lm_backoff_score",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    bg AS (
      SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2
      FROM (SELECT doc_id, unnest({_bigrams_sql(duck=True)}) AS u FROM t)
    ),
    train_uni AS (
      SELECT u AS w, COUNT(*) AS cu
      FROM (SELECT doc_id, unnest(toks) AS u FROM t
            WHERE doc_id % {LM_TRAIN_MOD} = 0)
      GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM train_uni),
    train_bi AS (
      SELECT w1, w2, COUNT(*) AS cb FROM bg
      WHERE doc_id % {LM_TRAIN_MOD} = 0
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT bg.doc_id,
             {_LM_MILLI.format(div="//")} AS milli,
             CASE WHEN cb IS NULL THEN 1 ELSE 0 END AS unseen
      FROM bg
      LEFT JOIN train_bi b ON bg.w1 = b.w1 AND bg.w2 = b.w2
      LEFT JOIN (SELECT w, cu AS cw1 FROM train_uni) u1 ON bg.w1 = u1.w
      LEFT JOIN (SELECT w, cu AS cu2 FROM train_uni) u2 ON bg.w2 = u2.w
      CROSS JOIN tot
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(unseen) AS BIGINT) AS n_unseen,
           CAST(SUM(milli) // COUNT(*) AS BIGINT) AS lm_avg_milli
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Stupid-Backoff bigram score per document, fixed-point.

    Train on the doc_id-parity split, score every document; the whole
    chain (two count aggregates, bigram/unigram left joins, integer
    fixed-point) is one Catalyst plan with no Python."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    bg = t.select(
        "doc_id", F.explode(F.expr(_bigrams_sql(duck=False))).alias("u")
    ).select("doc_id", F.col("u.w1").alias("w1"), F.col("u.w2").alias("w2"))
    train_toks = t.where(F.col("doc_id") % LM_TRAIN_MOD == 0)
    train_uni = (
        train_toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    tot = train_uni.agg(F.sum("cu").cast("bigint").alias("n_total"))
    train_bi = (
        bg.where(F.col("doc_id") % LM_TRAIN_MOD == 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
    )
    scored = (
        bg.join(train_bi, ["w1", "w2"], "left")
        .join(
            train_uni.select(F.col("w").alias("w1"),
                             F.col("cu").alias("cw1")),
            "w1",
            "left",
        )
        .join(
            train_uni.select(F.col("w").alias("w2"),
                             F.col("cu").alias("cu2")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(_LM_MILLI.format(div="DIV")).alias("milli"),
            F.when(F.col("cb").isNull(), 1).otherwise(0).alias("unseen"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("unseen").cast("bigint").alias("n_unseen"),
        F.expr("SUM(milli) DIV COUNT(*)").cast("bigint").alias("lm_avg_milli"),
    )
