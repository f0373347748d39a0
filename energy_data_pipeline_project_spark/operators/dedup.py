"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Five near-dup families, each the standard large-scale design:

- **Exact** — content-hash (md5) group-by: one shuffle on the hash, the
  100 TB-safe way to dedup (never group on raw multi-KB text).
- **MinHash + LSH** — shingle → k minhashes → band → capped bucket
  arrays, candidate pairs expanded inside each bucket. Candidate
  generation is linear in corpus size + bucket-collision pairs; the
  full O(n²) pair space is never materialized.
- **SimHash** — a 16-bit signature from token hashes (equal signatures
  → near-dup bucket), and a 64-bit signature whose four 16-bit
  quarters band a Hamming join, lossless at distance <= 3 by
  pigeonhole.
- **N-gram Jaccard** — exact shingle-set Jaccard over a capped
  inverted index: intersections are counted by expanding pairs inside
  each bounded posting array (no postings self-join); prefix filtering
  is the lossless uncapped twin. It verifies what LSH proposes.
- **Embedding cosine** — near-dup by vector similarity (bounded subset
  here; the scalable ANN path lives in operators/similarity.py).

Around them: connected-component clustering of the pair graph,
benchmark decontamination, duplicated-span removal and
sorted-neighborhood blocking.

All hashing comes from functions/hashing.py, and each wide dedup
expression (signatures, band keys, match count, Hamming verify) is
one SQL text that the DuckDB oracle and the engine both read, so the
two match bit-for-bit. No Python UDFs — everything is codegen'd
Catalyst expressions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window

from ..functions import hashing as H
from ..pipeline import artifacts as A
from ..sources.tables import load_table
from ._registry import make_registry

QUERIES, ORACLES, query = make_registry()

SHINGLE_N = 3
MINHASH_THRESHOLD = 0.5
# Shingle-Jaccard threshold t = T_NUM/T_DEN, kept as an exact integer
# fraction so the in-expansion PPJoin length filter (den·min ≥ num·max,
# lossless only at exactly this t) can never drift from the float
# ratio compare the output filter and the oracle share.
JACCARD_T_NUM = 1
JACCARD_T_DEN = 2
JACCARD_THRESHOLD = JACCARD_T_NUM / JACCARD_T_DEN
# PPJoin threshold t = NUM/DEN as an exact integer fraction — the ONE
# source for the prefix length, the bucket-expansion length filter,
# the verify predicate, and the oracle SQL, so a threshold change
# cannot break the lossless-filter guarantee by missing one copy.
JACCARD_NUM = 4
JACCARD_DEN = 5
COSINE_DUP_THRESHOLD = 0.3  # calibrated: testdata embeddings max out ~0.4
COSINE_SUBSET = 200  # bound the O(n²) pair space for the oracle query
COSINE_QUANT = 10_000  # integer grid for exact dp/n2 sums (house idiom)

# Hot-bucket skew caps (DESIGN.md "Known costs"). One boilerplate-heavy
# band value / shingle otherwise creates a quadratic candidate bucket:
# at 100 TB that is the difference between linear and quadratic work.
# Buckets holding more than CAP docs are dropped from candidate
# generation (standard LSH practice — such buckets are boilerplate, not
# signal). Both the Spark plan AND the DuckDB oracle implement the cap,
# so driver hash-checks stay exact even when it fires.
LSH_BUCKET_CAP = 100  # docs per (band_id, band_val) bucket
SHINGLE_DOC_CAP = 100  # posting rows per shingle hash

# Both caps run as a map-side-combined COUNT per bucket key followed by
# an equi-join that drops hot buckets BEFORE posting lists are
# collected; candidate pairs are then expanded inside each bounded
# bucket array (no postings self-join, no window sort).

# Frames persisted during plan construction (signature/posting frames
# feed several subplans). The registry is shared across operator
# modules (see _frames.py); release_cached_frames() after consuming a
# query's result — re-exported here as the long-standing public alias.
from ._frames import cached as _cached  # noqa: E402
from ._frames import release_cached_frames  # noqa: E402,F401

_TOKS_DUCK = H.tokens_sql("text", duck=True)
_TOKS_SPARK = H.tokens_sql("text", duck=False)


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup
# ---------------------------------------------------------------------------
def _shingle_hashes(docs: DataFrame) -> DataFrame:
    """``(doc_id, shingle-hash)`` postings — the shared first stage of
    shingle-Jaccard, containment, MinHash signatures, and the LSH
    quality audit. The tokenize→shingle→md5 explode is the dominant
    scan of every consumer, so the pair generators take postings and
    queries pass the published :func:`shared_shingle_postings`.

    Postings are SET-semantics per doc, deduped IN-ROW (array_distinct
    over the per-doc hash array — no shuffle): shingles are already
    distinct per doc, but two distinct shingles can collide in the
    32-bit hash, and a doubled (doc, h) row put the doc twice in a
    posting array, emitting a (d, d) self-pair the a < b oracles can
    never produce. Deduping here, at the shared source, covers every
    Jaccard/containment consumer (the minhash MIN is
    multiplicity-blind either way).

    NULL doc_ids are excluded HERE, at the index source: a NULL
    identity cannot participate in identity pairs (the
    sorted-neighborhood contract), but the positional bucket
    expansions downstream pair array entries without ever comparing
    ids, so a NULL-id doc whose text duplicates another doc's leaked a
    (NULL, x) pair that every a < b oracle rejects — and its postings
    counted toward hot-shingle caps only on one side. The oracle CTE
    heads carry the same WHERE."""
    toks = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id", F.expr(_TOKS_SPARK).alias("toks")
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform("
                + H.shingles_sql("toks", SHINGLE_N, duck=False)
                + ", s -> " + H.md5_int64("s", duck=False) + "))"
            )
        ).alias("h"),
    )


# the in-row-distinct posting array, ONE spelling per engine (the
# Spark twin lives in _shingle_hashes)
_POSTINGS_ARRAY_DUCK = (
    "list_distinct(list_transform("
    + H.shingles_sql("toks", SHINGLE_N, duck=True)
    + ", s -> " + H.md5_int64("s", duck=True) + "))"
)


def shingle_index_ctes(cap: int = SHINGLE_DOC_CAP) -> str:
    """DuckDB twin of the capped shingle inverted index: CTEs
    ``t → hx0 (in-row-distinct postings) → hx (hot shingles dropped)
    → sz (per-doc sizes over the capped index)``. ONE spelling for the
    dedup_shingle_jaccard and curation.text_containment oracles — and
    the in-row
    list_distinct matches :func:`_shingle_hashes` exactly, so the
    engines agree even on 32-bit within-doc hash collisions."""
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
           WHERE doc_id IS NOT NULL),  -- pair-identity index: see _shingle_hashes
    hx0 AS (SELECT doc_id, unnest({_POSTINGS_ARRAY_DUCK}) AS h FROM t),
    hx AS (SELECT doc_id, h FROM (
             SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS cnt
             FROM hx0
           ) WHERE cnt <= {cap}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id)"""


def _prefix_index_ctes() -> str:
    """Uncapped head of :func:`shingle_index_ctes` (``t → hx``, in-row
    distinct postings, NO hot-shingle cap): the prefix-filter join is
    lossless by construction and must see every posting, so only the
    set-semantics spelling is shared — one source with the capped
    variant."""
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
           WHERE doc_id IS NOT NULL),  -- pair-identity index: see _shingle_hashes
    hx AS (SELECT doc_id, unnest({_POSTINGS_ARRAY_DUCK}) AS h FROM t)"""


def capped_posting_arrays(
    hx: DataFrame, cap: int = SHINGLE_DOC_CAP
) -> tuple[DataFrame, DataFrame]:
    """(grouped posting arrays, per-doc sizes) over a postings frame,
    with hot shingles dropped BEFORE any array is collected — the
    capped-index core of ``curation.text_containment``
    (``shingle_jaccard_pairs`` caps with its own LEFT ANTI join).
    ``grouped`` is persisted; call
    release_cached_frames() once consumed."""
    ok_h = (
        hx.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") <= cap)
        .select("h")
    )
    grouped = _cached(
        hx.join(ok_h, "h")
        .groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
    )
    sz = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return grouped, sz


# ---------------------------------------------------------------------------
# Wide dedup expressions: one SQL text, read by both engines
# ---------------------------------------------------------------------------
# The minhash and SimHash signatures, the band keys, the minhash match
# count and the Hamming verify are 16- to 64-term expressions. Each is
# spelled once below as SQL text: the DuckDB oracle interpolates it,
# and the engine applies the same text as expressions on a frame
# (``selectExpr`` for projections, one ``agg(*map(F.expr, ...))`` for
# aggregates) instead of building a Column tree node by node. Both
# dialects read ``>>``, ``&``, ``bit_count``, ``concat_ws``, ``CASE``
# and ``MIN``/``SUM`` alike. xor is the one switch (Spark ``^``;
# DuckDB ``xor()``, whose ``^`` is power). A ratio divides by
# ``CAST(k AS DOUBLE)``, because Spark types a bare ``16.0`` DECIMAL.

# The k signature columns, aggregated per doc_id over its postings
# (doc_id, h). MIN is multiplicity-blind, so a posting may repeat.
_MINHASH_MINS = [
    f"MIN({H.minhash_expr(i, 'h')}) AS m{i}" for i in range(H.MINHASH_K)
]


def _minhash_signatures(hx: DataFrame) -> DataFrame:
    """doc_id → k minhash columns m0..m{k-1} over a ``_shingle_hashes``
    postings frame."""
    return hx.groupBy("doc_id").agg(*map(F.expr, _MINHASH_MINS))


# Bucket key of each LSH band: its MINHASH_ROWS minhashes joined by ','.
_MINHASH_BAND_KEYS = [
    "concat_ws(',', "
    + ", ".join(
        f"m{i}" for i in range(b * H.MINHASH_ROWS, (b + 1) * H.MINHASH_ROWS)
    )
    + ")"
    for b in range(H.MINHASH_BANDS)
]


def _band_melt_sql(src: str, keys: list[str]) -> str:
    """Oracle melt: one (doc_id, band_id, band_val) row per band key of
    each ``src`` row; band_id is the key's position, as in
    :func:`_melt_bands`."""
    return "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {b} AS band_id, {k} AS band_val FROM {src}"
        for b, k in enumerate(keys)
    )


def _melt_bands(sig: DataFrame, keys: list[str]) -> DataFrame:
    """Engine melt of a signature frame to (doc_id, band_id, band_val)
    in ONE pass. ``stack``, not ``posexplode(array(..))``: Spark's
    lexer reads a ``>>`` after an ``array`` token in the same statement
    as two closing type brackets, and the SimHash quarter keys shift."""
    rows = ", ".join(f"{b}, {k}" for b, k in enumerate(keys))
    return sig.selectExpr(
        "doc_id", f"stack({len(keys)}, {rows}) AS (band_id, band_val)"
    )


# Fraction of equal minhashes between the signature rows ``sa`` and
# ``sb``: an exact multiple of 1/k.
_MINHASH_EST = (
    "("
    + " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
        for i in range(H.MINHASH_K)
    )
    + f") / CAST({H.MINHASH_K} AS DOUBLE)"
)


def _pair_sides(
    cand: DataFrame, sa: DataFrame, sb: DataFrame, a: str, b: str
) -> DataFrame:
    """``cand`` with the signature row of its ``a`` side as ``sa`` and
    of its ``b`` side as ``sb``: the rows a verify expression reads.
    :func:`_pair_sides_sql` is the oracle's spelling."""
    return (
        cand.alias("cand")
        .join(sa.alias("sa"), F.col(f"cand.{a}") == F.col("sa.doc_id"))
        .join(sb.alias("sb"), F.col(f"cand.{b}") == F.col("sb.doc_id"))
    )


def _pair_sides_sql(cand: str, sa: str, sb: str, a: str, b: str) -> str:
    return (
        f"{cand} cand JOIN {sa} sa ON cand.{a} = sa.doc_id"
        f" JOIN {sb} sb ON cand.{b} = sb.doc_id"
    )


def _minhash_verify_sql(
    sa: str, sb: str, a: str = "doc_a", b: str = "doc_b"
) -> str:
    """Oracle LSH verify over the candidate CTE ``cand``: ``(a, b,
    est_jaccard)`` where the estimate clears MINHASH_THRESHOLD."""
    return f"""
    SELECT cand.{a}, cand.{b}, {_MINHASH_EST} AS est_jaccard
    FROM {_pair_sides_sql("cand", sa, sb, a, b)}
    WHERE {_MINHASH_EST} >= {MINHASH_THRESHOLD}"""


def _minhash_verify(
    cand: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Engine twin of :func:`_minhash_verify_sql`."""
    return (
        _pair_sides(cand, sa, sb, a, b)
        .selectExpr(f"cand.{a}", f"cand.{b}", f"{_MINHASH_EST} AS est_jaccard")
        .where(F.col("est_jaccard") >= MINHASH_THRESHOLD)
    )


# t → sh → hx → sig: the signature head of the minhash oracles.
_MINHASH_SIG_CTES = f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
           WHERE doc_id IS NOT NULL),  -- pair-identity index: see _shingle_hashes
    sh AS (SELECT doc_id, unnest({H.shingles_sql("toks", SHINGLE_N, duck=True)}) AS s
           FROM t),
    hx AS (SELECT doc_id, {H.md5_int64("s", duck=True)} AS h FROM sh),
    sig AS (SELECT doc_id, {", ".join(_MINHASH_MINS)}
            FROM hx GROUP BY doc_id)"""

# bands → bands_ok → cand over ``sig``: the oracle twin of
# lsh_candidate_pairs, hot-bucket cap included.
_LSH_CAND_CTES = f"""
    bands AS (
    {_band_melt_sql("sig", _MINHASH_BAND_KEYS)}
    ),
    bands_ok AS (
      SELECT doc_id, band_id, band_val FROM (
        SELECT doc_id, band_id, band_val,
               COUNT(*) OVER (PARTITION BY band_id, band_val) AS bcnt
        FROM bands
      ) WHERE bcnt <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_ok a
      JOIN bands_ok b ON a.band_id = b.band_id AND a.band_val = b.band_val
                     AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle() -> str:
    # Melted-band formulation mirroring the Spark plan (bucket equi-join
    # + hot-bucket cap), so the cap's semantics are hash-checked too.
    return f"""{_MINHASH_SIG_CTES},{_LSH_CAND_CTES}
    {_minhash_verify_sql("sig", "sig")}
    """


def _bucket_pairs_sql(arr_col: str) -> str:
    """All ordered pairs (a < b) from a SORTED id array, in-plan.

    ``transform``'s index lambda pairs each element with every later
    one; array length is bounded by the bucket cap, so the expansion
    is O(cap²) per bucket — never O(corpus²) — and runs inside
    whole-stage codegen with no join."""
    a = arr_col
    return (
        f"flatten(transform({a}, (x, i) -> "
        f"transform(slice({a}, i + 2, size({a})), "
        f"y -> struct(x AS doc_a, y AS doc_b))))"
    )


def _bucket_pairs_lenfilter_sql(
    arr_col: str, num: int, den: int, *, with_sizes: bool = False
) -> str:
    """All ordered pairs (a < b) from a SORTED array of (doc_id, n)
    structs that also pass the PPJoin LENGTH filter for t = num/den.

    Jaccard >= t forces ``|A∩B| >= t·max(|A|,|B|)`` and the
    intersection can never exceed the smaller set, so any qualifying
    pair satisfies ``den·min(na,nb) >= num·max(na,nb)`` — pairs of
    very different sizes are provably below threshold and are dropped
    INSIDE the bucket expansion (codegen'd array lambda), before they
    ever become join rows.  Lossless by the same pigeonhole argument
    as the prefix itself; integer cross-multiplication, no floats.

    ``with_sizes=True`` emits ``(doc_a, doc_b, na, nb)`` so a
    multiplicity-counting consumer can aggregate straight to the
    Jaccard ratio with NO size joins afterwards."""
    a = arr_col
    payload = (
        "struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
        " x.n AS na, y.n AS nb)"
        if with_sizes
        else "struct(x.doc_id AS doc_a, y.doc_id AS doc_b)"
    )
    return (
        f"flatten(transform({a}, (x, i) -> "
        f"transform(filter(slice({a}, i + 2, size({a})), "
        f"y -> {den} * least(x.n, y.n) >= {num} * greatest(x.n, y.n)), "
        f"y -> {payload})))"
    )


def capped_bucket_pairs(bands: DataFrame, bucket_cap: int) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from a
    ``(doc_id, band_id, band_val)`` postings frame, with the
    hot-bucket skew cap. The one expansion MinHash-LSH and
    SimHash-Hamming banding share, so a cap-semantics fix reaches
    both."""
    # doc_ids are unique per bucket, so COUNT(*) is the bucket's doc
    # count; only buckets in [2, cap] can produce candidate pairs.
    bcnt = bands.groupBy("band_id", "band_val").agg(F.count("*").alias("bcnt"))
    ok = bcnt.where(
        (F.col("bcnt") >= 2) & (F.col("bcnt") <= bucket_cap)
    ).select("band_id", "band_val")
    return (
        bands.join(ok, ["band_id", "band_val"])
        .groupBy("band_id", "band_val")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .select(F.explode(F.expr(_bucket_pairs_sql("ds"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def symmetric_edges(pairs: DataFrame) -> DataFrame:
    """A distinct ``(doc_a < doc_b)`` pair frame → undirected
    ``(src, dst)`` edge list. Distinct by construction (a<b rows
    cannot collide with a>b rows), so no dedup shuffle is needed —
    the invariant lives HERE, next to the pair generators that
    establish it, instead of being re-stated at five call sites."""
    return pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )


def lsh_candidate_pairs(
    sig: DataFrame, *, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Distinct (doc_a < doc_b) LSH candidate pairs from a signature
    frame — the pre-verification stage, exposed separately so its
    recall/precision can be measured against exact ground truth
    (``dedup_lsh_quality_eval``)."""
    return capped_bucket_pairs(_melt_bands(sig, _MINHASH_BAND_KEYS), bucket_cap)


def minhash_lsh_pairs(
    hx: DataFrame, *, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """LSH candidate pairs + minhash-estimated Jaccard for postings.

    Scale path: candidates come from grouping the melted band frame by
    (band_id, band_val) and expanding pairs inside each bucket array —
    the O(n²) pair space is never built, and no self-join of the
    postings ever shuffles. The hot-bucket cap (buckets above
    ``bucket_cap`` docs are dropped — one boilerplate band value would
    otherwise emit O(bucket²) candidates) is enforced by a map-side
    combined COUNT before any bucket array is collected, so no
    collect_list buffer can exceed cap ids even under adversarial
    skew. The bucket-count join lands already partitioned by the band
    key, so the follow-up groupBy reuses the exchange — cheaper than
    the window formulation this replaces, which sorted the full band
    frame and shuffled it again on both self-join sides.

    The signature frame is tiny relative to the corpus (k ints/doc)
    and feeds three subplans (bands + both estimate sides): persist it
    so the postings groupBy runs once. Call release_cached_frames()
    once the result is consumed.
    """
    sig = _cached(_minhash_signatures(hx))
    return pairs_from_signatures(sig, bucket_cap=bucket_cap)


def pairs_from_signatures(
    sig: DataFrame, *, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for a signature frame — the
    signature-level core of ``minhash_lsh_pairs``, reused by the
    streaming ingest index (streaming/dedup_index.py) where
    signatures arrive precomputed."""
    cand = lsh_candidate_pairs(sig, bucket_cap=bucket_cap)
    return _minhash_verify(cand, sig, sig)


def cross_matches_from_signatures(
    sig_batch: DataFrame,
    sig_index: DataFrame,
    *,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """(doc_id, dup_of, est_jaccard): batch signatures band-colliding
    with index signatures — the two-frame core of
    ``incremental_lsh_matches``, with the hot-bucket cap on the INDEX
    side (same rationale: a boilerplate index bucket would fan every
    colliding batch doc out to the whole bucket)."""
    batch_bands = _melt_bands(sig_batch, _MINHASH_BAND_KEYS)
    index_bands = _melt_bands(sig_index, _MINHASH_BAND_KEYS)
    iok = (
        index_bands.groupBy("band_id", "band_val")
        .agg(F.count("*").alias("bcnt"))
        .where(F.col("bcnt") <= bucket_cap)
        .select("band_id", "band_val")
    )
    cand = (
        batch_bands.join(index_bands.join(iok, ["band_id", "band_val"])
                         .select("band_id", "band_val",
                                 F.col("doc_id").alias("dup_of")),
                         ["band_id", "band_val"])
        .select("doc_id", "dup_of")
        .distinct()
    )
    return _minhash_verify(cand, sig_batch, sig_index, "doc_id", "dup_of")


@query("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(shared_shingle_postings(spark, sf_dir))


# ---------------------------------------------------------------------------
# Shared pair frame for the graph/CC/curation consumers
# ---------------------------------------------------------------------------
# Nine query entrypoints consume the same near-dup pair graph of the
# documents table (cluster_cc, pagerank, triangles, k-core, LPA, BFS,
# keep-best, dup-rate, leakage audit). Recomputing MinHash signatures
# per query dominated their bench cost, and
# it misrepresents the real pipeline, where signatures are computed
# once per corpus snapshot and every downstream job reads the pair
# frame. ``artifacts.shared`` memoizes it per session and publishes it
# to the lake, so a COLD process reads the published
# ``(doc_a, doc_b, est_jaccard)`` pair frame instead of re-shuffling
# the shingle postings through minhash→band→bucket-join; a cold store
# builds it from the published postings. est_jaccard values are exact
# multiples of 1/MINHASH_K, so the parquet round-trip is bit-exact and
# oracles (which replay the chain in SQL) stay hash-identical whichever
# tier answered.

# Bump on ANY change to the pair derivation (shingling, hash family,
# banding, cap or threshold semantics) so a stale published frame can
# never serve the new code — the constants below ride the kind name,
# but logic changes need this literal (see pq._PQ_CHAIN_REV).
# Rev 2: NULL-id docs left the signature population, so a rev-1 pair
# frame could carry NULL-doc bucket-cap effects.
_LSH_PAIRS_CHAIN_REV = 2


def shared_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ``minhash_lsh_pairs`` over the published shingle
    postings of ``{sf_dir}/documents``."""
    kind = (
        f"lsh_pairs@r{_LSH_PAIRS_CHAIN_REV}"
        f"-k{H.MINHASH_K}b{H.MINHASH_BANDS}"
        f"c{LSH_BUCKET_CAP}t{MINHASH_THRESHOLD}"
    )
    return A.shared(
        spark,
        kind,
        sf_dir,
        "documents",
        ("pairs",),
        lambda: {
            "pairs": minhash_lsh_pairs(shared_shingle_postings(spark, sf_dir))
        },
    )["pairs"]


# ---------------------------------------------------------------------------
# Incremental near-dedup: new batch vs indexed corpus
# ---------------------------------------------------------------------------
# Production corpora are not deduped once — every ingest day a new
# batch must be screened against everything already indexed WITHOUT
# re-pairing the whole corpus. The standard design: the index side
# keeps its (band_id, band_val) table materialized (bucketed by the
# band key at scale, so only the small batch side shuffles); the
# incremental job computes signatures for the batch alone and
# equi-joins batch bands against index bands. Work per run is
# O(batch + collisions), independent of corpus size. Batch membership
# is carved deterministically by key hash (~20% of docs) so the query
# is hermetic and oracle-checkable.
INCR_BATCH_MOD = 5
INCR_BATCH_REM = 0


def _incr_split_pred() -> F.Column:
    key = F.expr(H.md5_int64("CAST(doc_id AS STRING)", duck=False))
    return (key % INCR_BATCH_MOD) == INCR_BATCH_REM


def incremental_lsh_matches(
    hx: DataFrame, *, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """(doc_id, dup_of, est_jaccard) over a ``_shingle_hashes``
    postings frame: incoming docs whose signature
    band-collides with an indexed doc and whose minhash-estimated
    Jaccard clears ``MINHASH_THRESHOLD``.

    The hot-bucket cap applies to the INDEX side (a boilerplate band
    value there would fan every colliding batch doc out to the whole
    bucket); capped index buckets are dropped before the join, exactly
    like the batch formulation, and the oracle replays the cap.
    """
    sig = _cached(_minhash_signatures(hx))
    is_batch = _incr_split_pred()
    return cross_matches_from_signatures(
        sig.where(is_batch), sig.where(~is_batch), bucket_cap=bucket_cap
    )


def _incremental_oracle() -> str:
    key = H.md5_int64("CAST(doc_id AS VARCHAR)", duck=True)
    return f"""{_MINHASH_SIG_CTES},
    bsig AS (SELECT * FROM sig
             WHERE ({key} % {INCR_BATCH_MOD}) = {INCR_BATCH_REM}),
    isig AS (SELECT * FROM sig
             WHERE ({key} % {INCR_BATCH_MOD}) != {INCR_BATCH_REM}),
    bbands AS (
    {_band_melt_sql("bsig", _MINHASH_BAND_KEYS)}
    ),
    ibands AS (
    {_band_melt_sql("isig", _MINHASH_BAND_KEYS)}
    ),
    iok AS (
      SELECT band_id, band_val FROM ibands
      GROUP BY 1, 2 HAVING COUNT(*) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS doc_id, i.doc_id AS dup_of
      FROM bbands b
      JOIN (SELECT ib.* FROM ibands ib JOIN iok USING (band_id, band_val)) i
        USING (band_id, band_val)
    )
    {_minhash_verify_sql("bsig", "isig", "doc_id", "dup_of")}
    """


@query("dedup_incremental_lsh", _incremental_oracle())
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the hash-carved 'incoming batch' (~20% of docs) against
    the indexed remainder; batch-internal pairs are deliberately out of
    scope (that is ``dedup_minhash_lsh`` applied to the batch)."""
    return incremental_lsh_matches(shared_shingle_postings(spark, sf_dir))


# ---------------------------------------------------------------------------
# SimHash signatures
# ---------------------------------------------------------------------------
def _simhash_votes(src: str, bits: int, prefix: str) -> list[str]:
    """Per-bit votes over a doc's word hashes ``src``: ``{prefix}{j}``
    sums +1 for each hash with bit j set and -1 for each without."""
    return [
        f"SUM(CASE WHEN (({src} >> {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" AS {prefix}{j}"
        for j in range(bits)
    ]


def _simhash_pack_sql(prefix: str, bits: int) -> str:
    """The votes ``{prefix}0..`` packed into a BIGINT whose bit j is
    set iff vote j is positive."""
    terms = " + ".join(
        f"CASE WHEN {prefix}{j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(bits)
    )
    return f"CAST({terms} AS BIGINT)"


# (output column, md5 slice feeding it) per signature half, and the
# bits per half: the 16-bit signature, and the 64-bit one as two 32-bit
# halves so no expression touches the int64 sign bit in either engine.
_SIMHASH16 = ((("simhash", H.md5_int64),), H.SIMHASH_BITS)
_SIMHASH64 = ((("sim_hi", H.md5_int64_hi), ("sim_lo", H.md5_int64)), 32)


def _simhash_parts(
    spec: tuple, *, duck: bool
) -> tuple[list[str], list[str], list[str]]:
    """A SimHash signature over a ``(doc_id, w)`` word relation as three
    select lists: word hashes, per-bit votes (aggregated per doc_id)
    and the packed halves."""
    halves, bits = spec
    hashes, votes, packs = [], [], []
    for i, (col, md5) in enumerate(halves):
        hashes.append(f"{md5('w', duck=duck)} AS h{i}")
        votes += _simhash_votes(f"h{i}", bits, f"v{i}_")
        packs.append(f"{_simhash_pack_sql(f'v{i}_', bits)} AS {col}")
    return hashes, votes, packs


def _simhash_sql(words: str, spec: tuple) -> str:
    """Oracle signature of the word relation ``words``."""
    hashes, votes, packs = _simhash_parts(spec, duck=True)
    return f"""
    SELECT doc_id, {", ".join(packs)} FROM (
      SELECT doc_id, {", ".join(votes)}
      FROM (SELECT doc_id, {", ".join(hashes)} FROM {words}) hx
      GROUP BY doc_id) bits"""


def _simhash_frame(words: DataFrame, spec: tuple) -> DataFrame:
    """Engine twin of :func:`_simhash_sql`."""
    hashes, votes, packs = _simhash_parts(spec, duck=False)
    return (
        words.selectExpr("doc_id", *hashes)
        .groupBy("doc_id")
        .agg(*map(F.expr, votes))
        .selectExpr("doc_id", *packs)
    )


def _distinct_words(docs: DataFrame) -> DataFrame:
    """(doc_id, w): each document's distinct text tokens, the word set
    both SimHash signatures vote over."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TOKS_SPARK))).alias("w")
    )


_SIMHASH_TOKEN_CTE = (
    "t AS (SELECT doc_id, " + _TOKS_DUCK + " AS toks FROM documents),\n"
    "    tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS w FROM t)"
)


@query(
    "dedup_simhash", f"WITH {_SIMHASH_TOKEN_CTE}{_simhash_sql('tok', _SIMHASH16)}"
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _simhash_frame(_distinct_words(docs), _SIMHASH16)


# ---------------------------------------------------------------------------
# 64-bit SimHash + Hamming-banded near-dup JOIN (Manku et al. WWW'07)
# ---------------------------------------------------------------------------
# Bands are the four 16-bit quarters of (sim_hi, sim_lo): by pigeonhole,
# hamming(a,b) <= 3 over 64 bits forces at least one identical quarter,
# so the banded candidate join is LOSSLESS at HAMMING_MAX = 3.
SIMHASH64_HAMMING_MAX = 3
SIMHASH64_BUCKET_CAP = 100  # same skew rationale as LSH_BUCKET_CAP

# The four 16-bit quarters of (sim_hi, sim_lo); band_id is the position.
_SIMHASH64_QUARTERS = [
    "(sim_hi >> 16)",
    "(sim_hi & 65535)",
    "(sim_lo >> 16)",
    "(sim_lo & 65535)",
]


def _hamming_sql(*, duck: bool) -> str:
    """Hamming distance (INT) between the 64-bit signature rows ``sa``
    and ``sb``."""

    def xor(half: str) -> str:
        if duck:  # DuckDB's ^ is power
            return f"xor(sa.{half}, sb.{half})"
        return f"(sa.{half} ^ sb.{half})"

    bits = f"bit_count({xor('sim_hi')}) + bit_count({xor('sim_lo')})"
    return f"CAST({bits} AS INT)"


def simhash64_signature(words: DataFrame) -> DataFrame:
    """(doc_id, w) word frame → (doc_id, sim_hi, sim_lo): 64-bit
    SimHash bit-vote. Word extraction is the caller's choice — distinct
    text tokens for documents, byte n-grams for binary payloads
    (operators/multimodal.py) — the vote/pack machinery is shared."""
    return _simhash_frame(words, _SIMHASH64)


def _simhash64_oracle(words_cte: str = _SIMHASH_TOKEN_CTE) -> str:
    sides = _pair_sides_sql("cand", "sig", "sig", "doc_a", "doc_b")
    return f"""
    WITH {words_cte},
    sig AS MATERIALIZED ({_simhash_sql("tok", _SIMHASH64)}),
    bands AS (
    {_band_melt_sql("sig", _SIMHASH64_QUARTERS)}
    ),
    bcnt AS (SELECT band_id, band_val, COUNT(*) AS cnt
             FROM bands GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                   AND a.doc_id < b.doc_id
      JOIN bcnt c ON a.band_id = c.band_id AND a.band_val = c.band_val
      WHERE c.cnt <= {SIMHASH64_BUCKET_CAP}
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT doc_a, doc_b, {_hamming_sql(duck=True)} AS hamming FROM {sides}
    ) WHERE hamming <= {SIMHASH64_HAMMING_MAX}
    """


def simhash_hamming_pairs(
    docs: DataFrame, *, bucket_cap: int = SIMHASH64_BUCKET_CAP
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= {SIMHASH64_HAMMING_MAX}
    over a 64-bit SimHash — the Manku/Jain/Sarma web-dedup design.

    Candidates come from equi-matching any of the four 16-bit signature
    quarters (pigeonhole-complete at this threshold), generated with
    the same capped-bucket array expansion as MinHash-LSH; verification
    is two xor+bit_count integer ops per candidate. Everything shuffles
    fixed-width ints; signatures are one pass over distinct tokens.
    """
    return hamming_pairs_from_signature(
        simhash64_signature(_distinct_words(docs)), bucket_cap=bucket_cap
    )


def hamming_pairs_from_signature(
    sig: DataFrame, *, bucket_cap: int = SIMHASH64_BUCKET_CAP
) -> DataFrame:
    """Banded candidate generation + xor verify over any 64-bit
    signature frame (doc_id, sim_hi, sim_lo). Persists ``sig`` itself
    (callers pass it unpersisted); release_cached_frames() frees it."""
    # sig feeds THREE subplans (band melt + both verify sides) and
    # Spark has no cross-subtree scan CSE: unpersisted, the vote
    # aggregate (explode + 64-term groupBy) re-ran per consumer.
    sig = _cached(sig)
    cand = capped_bucket_pairs(_melt_bands(sig, _SIMHASH64_QUARTERS), bucket_cap)
    return (
        _pair_sides(cand, sig, sig, "doc_a", "doc_b")
        .selectExpr(
            "cand.doc_a", "cand.doc_b", f"{_hamming_sql(duck=False)} AS hamming"
        )
        .where(F.col("hamming") <= SIMHASH64_HAMMING_MAX)
    )


@query("dedup_simhash_hamming", _simhash64_oracle())
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_hamming_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Exact n-gram (shingle) Jaccard via inverted index
# ---------------------------------------------------------------------------
def shingle_jaccard_pairs(
    hx: DataFrame, *, shingle_cap: int = SHINGLE_DOC_CAP
) -> DataFrame:
    """Exact shingle-set Jaccard over a ``_shingle_hashes`` postings
    frame's inverted index, skew-capped.

    Postings are (doc_id, shingle-hash): everything shuffles as 8-byte
    ints, not shingle strings. Shingles whose posting list exceeds
    ``shingle_cap`` rows are dropped from the index BEFORE pairing (a
    boilerplate shingle shared by n docs would emit O(n²) pairs); doc
    sizes are computed over the same filtered index so the Jaccard
    ratio stays internally consistent. Intersection counts come from
    expanding pairs inside each (bounded) posting array rather than a
    postings self-join — see minhash_lsh_pairs for why that plan
    shape wins — and each posting carries its doc's capped size so
    the PPJoin length filter prunes inside the expansion and
    the final ratio needs no size joins. Call release_cached_frames()
    once the result is consumed.
    """
    # Cap pass: map-side-combined count per shingle, hot postings
    # dropped BEFORE anything is collected. Phrased as LEFT ANTI
    # against the HOT set (complement of the old ok_h inner join,
    # identical rows): hot is bounded by total_postings/cap — tiny on
    # real corpora — so AQE broadcasts it and the postings frame
    # reaches the doc-grouping WITHOUT the extra hash exchange the
    # inner join forced (one of four full-postings shuffles; no hint
    # — AQE owns the join strategy).
    hot = (
        hx.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > shingle_cap)
        .select("h")
    )
    capped = hx.join(hot, "h", "left_anti")
    # Per-doc capped size rides WITH every posting (as in the
    # prefix-Jaccard plan): ONE doc-grouping yields
    # (hs, n), the in-row re-explode rebuilds the postings carrying n
    # with no extra corpus scan, and the h-grouping collects
    # (doc_id, n) structs. The PPJoin LENGTH filter — lossless at the
    # exact fraction t = 1/2 = JACCARD_THRESHOLD: den·min ≥ num·max —
    # then prunes cross-size pairs inside the codegen'd bucket
    # expansion, and the surviving pair rows already carry (na, nb),
    # so the multiplicity count aggregates straight to the ratio with
    # NO size joins afterwards (the old plan joined sz twice).
    per_doc = capped.groupBy("doc_id").agg(
        F.collect_list("h").alias("hs"), F.count("*").alias("n")
    )
    postings_n = per_doc.select(
        "doc_id", "n", F.explode("hs").alias("h")
    )
    grouped = (
        postings_n.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    common = (
        grouped.select(
            F.explode(
                F.expr(
                    _bucket_pairs_lenfilter_sql(
                        "ds", JACCARD_T_NUM, JACCARD_T_DEN, with_sizes=True
                    )
                )
            ).alias("p")
        )
        .groupBy("p.doc_a", "p.doc_b", "p.na", "p.nb")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return common.where(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", jac.alias("jaccard")
    )


@query(
    "dedup_shingle_jaccard",
    f"""{shingle_index_ctes()},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM hx a JOIN hx b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           c * 1.0 / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingle_jaccard_pairs(shared_shingle_postings(spark, sf_dir))


# ---------------------------------------------------------------------------
# Exact Jaccard via PREFIX FILTERING (PPJoin-style) — lossless candidates
# ---------------------------------------------------------------------------
def prefix_filter_jaccard_pairs(hx: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard join with prefix-filtering candidates over
    a ``_shingle_hashes`` postings frame.

    The scalable EXACT alternative to both the capped inverted index
    (which trades recall inside hot buckets) and MinHash-LSH (which is
    probabilistic): order every doc's shingles by a single global
    rarity order (document frequency asc, hash asc) and index only each
    doc's PREFIX of length ``n - ceil(t*n) + 1``.  Two sets with
    Jaccard >= t must overlap within those prefixes (pigeonhole over
    the shared total order — Chaudhuri/Ganti/Kaushik ICDE'06, Xiao et
    al. PPJoin WWW'08), so the candidate join is LOSSLESS — the result
    is the full exact join, which is exactly what the oracle checks by
    running the naive uncapped all-pairs formulation.

    Scale: prefixes are built from the RAREST shingles, so the
    candidate join's key distribution is anti-skewed by construction —
    boilerplate (high-df) shingles land at the end of the order and
    never enter the index.  This operator runs at the dedup-grade
    threshold t = 4/5 (the ``dedup_shingle_jaccard`` twin covers the
    low-t regime): prefixes then hold only ~20% of each doc's
    shingles, and candidate volume drops quadratically with that
    fraction (measured at sf0.1: 409k candidate pairs at t=1/2 vs 26k
    at t=4/5 over the same 5000 docs). Everything shuffles as 8-byte
    ints; the verify stage counts exact intersections only over
    surviving candidate pairs.

    ``ceil(t*n)`` is computed in INTEGER arithmetic from the exact
    fraction t = 4/5 (``(4n+4) DIV 5``): a float ceil could round the
    prefix a token short and silently break losslessness. The verify
    threshold is the integer cross-multiplication ``5c >= 4(na+nb-c)``
    — 0.8 has no exact binary representation, so a float compare
    could disagree between engines on exact-boundary pairs.

    Plan shape: the per-doc rarity order is an IN-ROW array_sort of
    each doc's (dfreq, h) structs (shingle sets are doc-length-
    bounded), not a window over the postings; verification intersects
    the two docs' sorted hash arrays with array_intersect in a single
    candidate-sized join — the full postings are never self-joined.
    """
    # ``hx`` is set-semantics per doc (see _shingle_hashes), as the
    # oracle's in-row list_distinct is, so the engines agree even on
    # 32-bit hash collisions and duplicated-doc_id inputs.
    dfreq = hx.groupBy("h").agg(F.count("*").alias("dfreq"))
    # One row per doc: shingle hashes in global rarity order plus the
    # exact prefix length p = n - ceil(n/2) + 1, ceil in INT arithmetic.
    grouped = _cached(
        hx.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dfreq, h))),"
                " x -> x.h)"
            ).alias("hs"),
            F.count("*").alias("n"),
        )
        .withColumn(
            "plen",
            # ceil((NUM/DEN)·n) = (NUM·n + DEN − 1) DIV DEN, exact ints
            F.expr(
                f"CAST(n - (({JACCARD_NUM} * n + {JACCARD_DEN - 1})"
                f" DIV {JACCARD_DEN}) + 1 AS INT)"
            ),
        )
    )
    prefix = grouped.select(
        "doc_id", "n", F.explode(F.expr("slice(hs, 1, plen)")).alias("h")
    )
    # Bucket pairs carry each doc's set size so the PPJoin LENGTH
    # filter (5·min >= 4·max, lossless at t = 4/5) prunes cross-size
    # pairs inside the codegen'd expansion — at sf0.1 this cuts the
    # candidate join from 119k to the size-compatible subset before
    # the array_intersect verification ever sees a row.
    cand = (
        prefix.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .where(F.size("ds") >= 2)
        .select(
            F.explode(
                F.expr(
                    _bucket_pairs_lenfilter_sql("ds", JACCARD_NUM, JACCARD_DEN)
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    ga = grouped.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hsa"),
        F.col("n").alias("na"),
    )
    gb = grouped.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hsb"),
        F.col("n").alias("nb"),
    )
    c = F.size(F.array_intersect("hsa", "hsb")).cast("bigint")
    jac = c * 1.0 / (F.col("na") + F.col("nb") - c)
    # t = NUM/DEN as integer cross-multiplication (see docstring)
    passes = (F.lit(JACCARD_DEN) * c) >= (
        F.lit(JACCARD_NUM) * (F.col("na") + F.col("nb") - c)
    )
    # No forced broadcast: ``grouped`` is corpus-sized (one row per
    # doc), so the verify joins must stay shuffle joins at 100 TB —
    # AQE upgrades them to broadcast at test scale on its own.
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .where(passes)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@query(
    "dedup_prefix_jaccard",
    f"""
{_prefix_index_ctes()},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM hx a JOIN hx b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           c * 1.0 / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE {JACCARD_DEN} * c >= {JACCARD_NUM} * (sa.n + sb.n - c)
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle is the NAIVE UNCAPPED all-pairs join at the same
    t = 4/5 threshold: a hash match here is a proof on real data that
    prefix filtering lost nothing."""
    return prefix_filter_jaccard_pairs(shared_shingle_postings(spark, sf_dir))


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components over LSH pairs
# ---------------------------------------------------------------------------
# After pairwise near-dup detection, a real training-data pipeline needs
# CLUSTERS (keep one doc per component), not pairs: A~B and B~C must
# collapse to one group even when A~C was never emitted. That is
# connected components over the dup-pair graph.
CC_MAX_ITERS = 20


def duplicate_components(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components of the near-dup graph by min-label propagation.

    Returns ``(doc_id, component_id, component_size)`` for EVERY doc —
    singletons label themselves — where ``component_id`` is the minimum
    doc_id reachable through ``pairs``.

    Scale design: this is the standard iterative Pregel-style CC.  Each
    round is two distributed hash joins (neighbor-min propagation, then
    pointer-jumping label compression ``comp := comp[comp]``, which
    halves the remaining path length so rounds are O(log diameter), the
    same trick as large-star/small-star from Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).  The
    driver only coordinates the convergence test — a changed-label
    COUNT observed on each round's checkpoint job, never row data.
    LSH dup clusters are near-cliques, so in practice 2-3 rounds
    converge.

    Crucially, the loop state holds ONLY docs incident to a dup edge:
    singletons — the overwhelming majority of any real corpus — never
    enter the iteration and are labeled with their own id by one final
    left join.  Per-round work is therefore proportional to the
    near-dup subgraph, not the corpus; at 100 TB that is the difference
    between iterating over everything O(log d) times and touching the
    full corpus exactly once.

    Each round ends in ``localCheckpoint(eager=True)``: iterative plans
    reference the previous round's frame TWICE (propagation + jump
    lookup), so without lineage truncation the logical plan doubles per
    round and the analyzer itself OOMs around round ~8 — caching alone
    does not help because persist() truncates execution, not the plan.
    Checkpoint blocks are freed by the ContextCleaner once the frame is
    unreferenced; a multi-tenant production deployment would point
    ``spark.sparkContext.setCheckpointDir`` at reliable storage and use
    ``checkpoint()`` instead (survives executor loss).
    """
    edges = _cached(symmetric_edges(pairs))

    # Star-contraction seed: initialize every node's label with the min
    # of its CLOSED neighborhood (self ∪ neighbors) — exactly what the
    # first propagation round would compute against identity labels,
    # but as ONE aggregation with no join. LSH components are near-
    # cliques, so most converge at the seed and the loop's first
    # changed-count often hits zero after a single confirming round.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "nmin").alias("comp"),
        )
        .localCheckpoint(eager=True)
    )

    for _ in range(CC_MAX_ITERS):
        # neighbor-min: the smallest label among my neighbors
        nbr_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"), "comp"), "dst"
            )
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        prop = labels.join(
            nbr_min, labels["doc_id"] == nbr_min["src"], "left"
        ).select(
            "doc_id",
            F.col("comp").alias("old_comp"),
            F.least("comp", F.coalesce("nmin", "comp")).alias("comp"),
        )
        # pointer jumping: comp := comp's comp (labels always point at a
        # real doc_id, so the lookup side is the label frame itself)
        jump = labels.select(
            F.col("doc_id").alias("comp"), F.col("comp").alias("jcomp")
        )
        obs = Observation()
        stepped = (
            prop.join(jump, "comp", "left")
            .select(
                "doc_id",
                "old_comp",
                F.least("comp", F.coalesce("jcomp", "comp")).alias("comp"),
            )
            .observe(
                obs, F.count_if(F.col("comp") < F.col("old_comp")).alias("n")
            )
            .localCheckpoint(eager=True)
        )
        labels = stepped.drop("old_comp")
        if obs.get["n"] == 0:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ITERS} rounds"
        )

    sizes = labels.groupBy("comp").agg(F.count("*").alias("csize"))
    clustered = labels.join(sizes, "comp").select(
        "doc_id",
        F.col("comp").alias("component_id"),
        "csize",
    )
    # distinct: components are over the SET of doc ids — a duplicated
    # doc_id row emitted two identical membership rows where the
    # oracle's recursive UNION kept one
    return (
        docs.select("doc_id")
        .distinct()
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("component_id"),
            F.coalesce("csize", F.lit(1))
            .cast("bigint")
            .alias("component_size"),
        )
    )


def _cc_oracle() -> str:
    # The pair set is the dedup_minhash_lsh oracle verbatim (nested WITH
    # inside a CTE body); the closure is a recursive CTE — UNION (not
    # UNION ALL) deduplicates reach rows, guaranteeing termination.
    return f"""
    WITH RECURSIVE pairs AS (
      {_minhash_oracle()}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src
    )
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
    """


@query("dedup_cluster_cc", _cc_oracle())
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return duplicate_components(docs, shared_lsh_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (bounded subset; ANN path in similarity.py)
# ---------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (
      SELECT vec_id, i AS pos,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {COSINE_QUANT}, 0)
                  AS BIGINT) AS q
      FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {COSINE_SUBSET}),
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
    ),
    nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2
            FROM e GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(SUM(a.q * b.q) AS BIGINT) AS dp
      FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b,
           dp / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
    FROM dots
    JOIN nrm na ON vec_a = na.vec_id
    JOIN nrm nb ON vec_b = nb.vec_id
    WHERE na.n2 > 0 AND nb.n2 > 0
      AND dp / (sqrt(na.n2) * sqrt(nb.n2)) >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine over the bounded subset, on the INTEGER grid.

    Raw float products would sum in a partition/engine-dependent
    order — a pair near a 4-dp rounding boundary (or at the
    threshold) could flip under the bit-exact oracle gate. So
    components quantize to BIGINT at
    COSINE_QUANT first (the module's standard idiom), so dp/n2 are
    exact integers and the only float ops (sqrt, one divide) run on
    identical inputs in both engines — bit-identical results, emitted
    RAW (a final ROUND(,4) would itself be a divergence source).
    Overflow headroom: |q| <= 1e4 so dp <= 64 * 1e8 << 2^63."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < COSINE_SUBSET
    )
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "vf")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("vf").cast("double") * COSINE_QUANT, 0)
        .cast("bigint")
        .alias("q"),
    )
    nrm = e.groupBy("vec_id").agg(
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("n2")
    )
    a = e.select(F.col("vec_id").alias("vec_a"), "pos", F.col("q").alias("qa"))
    b = e.select(F.col("vec_id").alias("vec_b"), "pos", F.col("q").alias("qb"))
    dots = (
        a.join(b, ["pos"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(F.sum(F.col("qa") * F.col("qb")).cast("bigint").alias("dp"))
    )
    na = nrm.select(F.col("vec_id").alias("vec_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("vec_id").alias("vec_b"), F.col("n2").alias("nb2"))
    # RAW ratio, no ROUND: dp/n2 are exact ints, so both engines run
    # the identical IEEE tree (sqrt is correctly rounded) and the
    # double is bit-identical — while ROUND(double, 4) itself splits
    # on near-tie doubles even with identical inputs (threshold
    # membership compares the identical raw value too)
    # positive-norm gate: a zero-norm vector (all components quantize
    # to 0) gives Spark NULL (dropped by the threshold) but DuckDB
    # 0/0 = NaN, which its total order ranks above the threshold —
    # divergent row membership
    cos = F.when(
        (F.col("na2") > 0) & (F.col("nb2") > 0),
        F.col("dp") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))),
    )
    return (
        dots.join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap against a held-out set
# ---------------------------------------------------------------------------
# Before training, every corpus must be screened for evaluation-set
# leakage: documents sharing long n-grams with benchmark items are
# contaminated and must be dropped (the GPT-3 appendix-C style 13-gram
# screen; 5-grams here because fixture docs are ~40 tokens). The
# "benchmark" is carved from the corpus by key-hash so the check is
# hermetic and deterministic.
CONTAM_SHINGLE_N = 5
CONTAM_BENCH_MOD = 17  # ~6% of docs play the benchmark role
CONTAM_BENCH_REM = 3
CONTAM_MIN_SHARED = 2  # report docs sharing >= 2 distinct 5-grams

_KEY_DUCK = H.md5_int64("CAST(doc_id AS VARCHAR)", duck=True)
_KEY_SPARK = H.md5_int64("CAST(doc_id AS STRING)", duck=False)


@query(
    "dedup_contamination",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest({H.shingles_sql("toks", CONTAM_SHINGLE_N, duck=True)}) AS s
          FROM t),
    hx AS (SELECT DISTINCT doc_id, {H.md5_int64("s", duck=True)} AS h FROM g),
    bench AS (SELECT doc_id, h FROM hx
              WHERE ({_KEY_DUCK} % {CONTAM_BENCH_MOD}) = {CONTAM_BENCH_REM}),
    corp AS (SELECT doc_id, h FROM hx
             WHERE ({_KEY_DUCK} % {CONTAM_BENCH_MOD}) != {CONTAM_BENCH_REM})
    SELECT c.doc_id,
           CAST(COUNT(DISTINCT c.h) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM corp c JOIN bench b ON c.h = b.h
    GROUP BY c.doc_id
    HAVING COUNT(DISTINCT c.h) >= {CONTAM_MIN_SHARED}
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination screen: corpus docs sharing >=
    CONTAM_MIN_SHARED distinct 5-gram hashes with any benchmark doc,
    with how many grams / benchmark docs they hit.

    Scale shape: both sides reduce to DISTINCT (doc, 8-byte gram-hash)
    postings — document text never crosses a shuffle. The benchmark
    side is small by construction (real eval suites are KBs-MBs), so
    it is broadcast; the corpus side streams map-side through the hash
    join, making the screen one linear scan + one tiny agg regardless
    of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    corp, bench = _contamination_postings(docs)
    return _contamination_report(
        corp.join(F.broadcast(bench), "h")
    )


def _contamination_postings(
    docs: DataFrame, *, carve: bool = True
) -> tuple[DataFrame, DataFrame]:
    """DISTINCT (doc_id, gram-hash) postings split corpus/benchmark.

    ``carve=True`` replays the hermetic fixture's benchmark key-carve
    on the CORPUS side too: docs whose key falls in the carve are the
    benchmark members themselves and are excluded from screening.
    Production ingest, where arriving docs are never benchmark
    members, passes ``carve=False`` so every document gets screened
    (streaming/screening.py exposes the knob)."""
    toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(H.shingles_sql("toks", CONTAM_SHINGLE_N, duck=False))
        ).alias("s"),
    )
    hx = grams.select(
        "doc_id", F.expr(H.md5_int64("s", duck=False)).alias("h")
    ).distinct()
    is_bench = (F.expr(_KEY_SPARK) % CONTAM_BENCH_MOD) == CONTAM_BENCH_REM
    bench = hx.where(is_bench).select(
        F.col("doc_id").alias("bench_doc_id"), "h"
    )
    return (hx.where(~is_bench) if carve else hx), bench


def benchmark_keyed_docs(docs: DataFrame) -> DataFrame:
    """Doc ids a carving screen skips (they ARE benchmark members) —
    the per-batch accounting the ingest screen emits so no arriving
    document disappears from the verdict trail silently."""
    is_bench = (F.expr(_KEY_SPARK) % CONTAM_BENCH_MOD) == CONTAM_BENCH_REM
    return docs.where(is_bench).select("doc_id")


def _contamination_report(joined: DataFrame) -> DataFrame:
    return (
        joined.groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_grams"),
            F.countDistinct("bench_doc_id").alias("n_bench_docs"),
        )
        .where(F.col("n_shared_grams") >= CONTAM_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: the runtime-filter formulation
# ---------------------------------------------------------------------------
# ``dedup_contamination`` broadcasts the benchmark posting list — right
# when the held-out set is KBs-MBs, impossible when it is itself
# corpus-sized (e.g. screening a new crawl against ALL prior training
# data). The scale answer is the classic semi-join reduction Spark's
# own runtime row-level filtering applies to shuffle joins: collapse
# the build side to an m-bit Bloom filter (KBs regardless of build-side
# row count), broadcast THAT, and let the probe side discard ~all
# non-matching postings map-side before the exact shuffle join. Bloom
# filters have no false negatives, so the prefilter is LOSSLESS — the
# oracle below is the naive exact formulation, and a hash match proves
# the bloom pass dropped nothing.
BLOOM_M_BITS = 1 << 16  # 64 Kbit = 1024 words; FPR ~0.2% at sf0.01 load


def _bloom_pos_array() -> F.Column:
    return F.array(
        *[
            F.expr(H.bloom_pos_expr(j, "h", BLOOM_M_BITS)).cast("long")
            for j in range(H.BLOOM_K)
        ]
    )


def bloom_build(keys: DataFrame) -> DataFrame:
    """Aggregate a one-column frame of int64 hashes ``h`` into bloom
    words: (word_idx, bits). At most m/64 rows — broadcastable at any
    build-side cardinality."""
    return (
        keys.select(F.explode(_bloom_pos_array()).alias("pos"))
        .select(
            F.expr("pos DIV 64").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "w"
            ),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(w)").alias("bits"))
    )


def bloom_prefilter(postings: DataFrame, bloom: DataFrame) -> DataFrame:
    """Keep only postings whose ``h`` sets all k bloom bits.

    The k probes explode map-side, hit the broadcast word table, and
    recombine with a count — no shuffle of the probe side beyond the
    (doc_id, h) re-group, which lands on the same key the downstream
    exact join needs anyway.
    """
    probes = postings.select(
        "doc_id", "h", F.explode(_bloom_pos_array()).alias("pos")
    ).select(
        "doc_id",
        "h",
        F.expr("pos DIV 64").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
            "mask"
        ),
    )
    return (
        probes.join(F.broadcast(bloom), "word_idx")
        .where(F.expr("(bits & mask) = mask"))
        .groupBy("doc_id", "h")
        .agg(F.count("*").alias("khits"))
        .where(F.col("khits") == H.BLOOM_K)
        .select("doc_id", "h")
    )


@query(
    "dedup_contamination_bloom",
    # The oracle is the EXACT uncapped formulation (same as
    # dedup_contamination): hash-matching it proves the bloom prefilter
    # is lossless on real data.
    ORACLES["dedup_contamination"],
)
def dedup_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via broadcast Bloom filter + exact shuffle join.

    Unlike ``dedup_contamination`` the benchmark posting list is NEVER
    broadcast — only its m-bit bloom image is. The exact verify join
    runs as a regular shuffle hash join over the ~contaminated-only
    survivors, so the pattern holds when the build side is corpus-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    corp, bench = _contamination_postings(docs)
    bloom = bloom_build(bench.select("h").distinct())
    survivors = bloom_prefilter(corp, bloom)
    # exact verify: deliberate shuffle join (no broadcast hint)
    return _contamination_report(survivors.join(bench, "h"))


# ---------------------------------------------------------------------------
# LSH candidate-generation quality: precision/recall vs exact ground truth
# ---------------------------------------------------------------------------
# "Measure, don't guess" for the near-dedup stack itself: how good are
# the banded-minhash candidates BEFORE verification? Ground truth is
# the exact capped shingle-Jaccard join at the same threshold; the
# confusion counts come from ONE full-outer join of the two pair sets
# on the (doc_a, doc_b) key. Exact int counts; precision/recall as
# plain divisions of exact ints (NULLIF-guarded). At 100 TB this is
# the recurring audit query a pipeline runs on a sampled slab to tune
# bands/rows and the bucket cap — both operand pipelines are the
# production formulations, so the audit measures what actually runs.


def _lsh_eval_oracle() -> str:
    # truth reads the shared set-semantics index (shingle_index_ctes),
    # the same postings every Spark consumer reads, so the engines
    # agree on within-doc hash collisions; sig reads its distinct hx0
    # (MIN is multiplicity-blind, so signatures match the other
    # minhash oracles either way).
    return f"""{shingle_index_ctes()},
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM hx a JOIN hx b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM common JOIN sz sa ON doc_a = sa.doc_id
                  JOIN sz sb ON doc_b = sb.doc_id
      WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
    ),
    sig AS (SELECT doc_id, {", ".join(_MINHASH_MINS)}
            FROM hx0 GROUP BY doc_id),{_LSH_CAND_CTES},
    m AS (
      SELECT tr.doc_a IS NOT NULL AS in_truth,
             ca.doc_a IS NOT NULL AS in_cand
      FROM truth tr FULL OUTER JOIN cand ca
        ON tr.doc_a = ca.doc_a AND tr.doc_b = ca.doc_b
    )
    SELECT
      CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      CAST(SUM(CASE WHEN in_cand AND NOT in_truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      CAST(SUM(CASE WHEN in_truth AND NOT in_cand THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS DOUBLE)
        / NULLIF(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END), 0) AS cand_precision,
      CAST(SUM(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS DOUBLE)
        / NULLIF(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END), 0) AS cand_recall
    FROM m
    """


@query("dedup_lsh_quality_eval", _lsh_eval_oracle())
def dedup_lsh_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE published postings frame feeds both the exact-Jaccard truth
    # and the MinHash signatures.
    hx = shared_shingle_postings(spark, sf_dir)
    truth = shingle_jaccard_pairs(hx).select(
        "doc_a", "doc_b", F.lit(1).alias("in_truth")
    )
    sig = _cached(_minhash_signatures(hx))
    cand = lsh_candidate_pairs(sig).select(
        "doc_a", "doc_b", F.lit(1).alias("in_cand")
    )
    m = truth.join(cand, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_truth", F.lit(0)).alias("in_truth"),
        F.coalesce("in_cand", F.lit(0)).alias("in_cand"),
    )
    tp = F.sum(F.col("in_truth") * F.col("in_cand"))
    n_cand = F.sum(F.col("in_cand"))
    n_truth = F.sum(F.col("in_truth"))
    return m.agg(
        tp.cast("bigint").alias("tp"),
        (n_cand - tp).cast("bigint").alias("fp"),
        (n_truth - tp).cast("bigint").alias("fn"),
        (
            tp.cast("double") / F.nullif(n_cand.cast("bigint"), F.lit(0))
        ).alias("cand_precision"),
        (
            tp.cast("double") / F.nullif(n_truth.cast("bigint"), F.lit(0))
        ).alias("cand_recall"),
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (cross-document memorization hazard)
# ---------------------------------------------------------------------------
# The dedup family the doc-level tiers above cannot express: find the
# exact token SPANS that repeat across documents (boilerplate headers,
# license blocks, memorized passages), per Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better"), which
# removes duplicated substrings of >= 50 tokens via a suffix array.
# The distributed re-expression: every length-G token gram is hashed
# (rolling window over positions); a gram occurring in >= 2 distinct
# docs marks its start position "duplicated"; runs of duplicated
# positions whose G-token coverage overlaps or touches (position gap
# <= G) merge into spans (gaps-and-islands with a coverage-width break
# rule). Contract: a span is the merged COVERAGE of duplicated
# length-G windows — every token in it lies under >= 1 duplicated
# window, its first and last windows are duplicated, and span_tokens
# is the exact union size (spans within a doc are disjoint, so the
# removal pass's cut budget equals sum(span_tokens)). Interior windows
# starting at unflagged positions, and the span text as a whole, need
# NOT recur verbatim — different windows may owe their duplication to
# DIFFERENT partner docs (chained overlaps). That is exactly the
# region a Lee-et-al-style pass cuts: they too merge overlapping
# duplicated ranges before removal.
#
# Scale shape (100 TB): everything is LINEAR in corpus tokens — one
# (h, doc) distinct + count for gram document-frequency (two-stage, no
# countDistinct skew), one equi-join of positions against the df frame
# (hot boilerplate grams fan out to their own positions only — no pair
# join anywhere), and per-doc windows for the island merge. Contrast
# with the O(pairs) verification tiers: this op never forms doc pairs.
SPAN_GRAM = 8  # tokens per gram; min reportable duplicated span


def _span_grams_duck() -> str:
    g = SPAN_GRAM
    return (
        f"list_transform(generate_series(1, len(toks) - {g - 1}), "
        f"i -> {{'p': i, 'g': array_to_string("
        f"list_slice(toks, i, i + {g - 1}), ' ')}})"
    )


def _span_grams_spark() -> str:
    g = SPAN_GRAM
    return (
        f"IF(size(toks) < {g}, array(), "
        f"transform(sequence(1, size(toks) - {g - 1}), "
        f"i -> concat_ws(' ', slice(toks, i, {g}))))"
    )


def span_gram_frame(docs: DataFrame) -> DataFrame:
    """Positional gram hashes ``(doc_id, pos, h)`` for a documents
    frame — the shared front end of the span tier (batch op AND the
    streaming index twin)."""
    return (
        docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
        .select(
            "doc_id",
            F.posexplode(F.expr(_span_grams_spark())).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.expr(H.md5_int64("gram", duck=False)).alias("h"),
        )
    )


def merge_span_islands(flagged: DataFrame, *extra_aggs) -> DataFrame:
    """Gaps-and-islands merge of flagged gram positions
    ``(doc_id, pos, ...)`` into maximal COVERAGE spans: two flagged
    windows merge when their G-token coverage overlaps or touches,
    i.e. position gap <= G — not just gap 1. (With a gap-1-only rule,
    flagged positions p and p+2 would yield two spans whose coverage
    intervals OVERLAP, double-counting span_tokens and breaking the
    cut == sum(span_tokens) conservation the removal pass relies
    on.) Within a span, coverage is contiguous —
    consecutive flagged windows overlap/touch — so span_tokens =
    end - start + 1 is the exact union size, while interior windows
    at UNflagged positions need not themselves be duplicated. Extra
    aggregate expressions (e.g. ``F.max("df")``) ride along."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    brks = flagged.withColumn(
        "brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w) <= SPAN_GRAM, 0
        ).otherwise(1),
    )
    spans = brks.withColumn(
        "span_id",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    gl = SPAN_GRAM
    return spans.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + (gl - 1)).alias("end_tok"),
        (F.max("pos") + gl - F.min("pos")).alias("span_tokens"),
        F.count("*").alias("n_grams"),
        *extra_aggs,
    )


def substring_spans_frame(docs: DataFrame) -> DataFrame:
    """Frame-based core of ``dedup_substring_spans`` (composable from
    examples / other pipelines over any documents-shaped frame)."""
    g = span_gram_frame(docs)
    dfq = (
        g.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
    )
    d = g.join(dfq, "h").select("doc_id", "pos", "df")
    return merge_span_islands(d, F.max("df").alias("max_df"))


def span_removal_frame(docs: DataFrame) -> DataFrame:
    """Frame-based core of ``dedup_span_removal``."""
    spans = substring_spans_frame(docs)
    ivl = (
        spans.select(
            "doc_id",
            F.struct(
                F.col("start_tok").alias("s"), F.col("end_tok").alias("e")
            ).alias("iv"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list("iv").alias("ivs"))
    )
    # NULL text coalesces to an EMPTY token list (mirrored in the
    # oracle's cut CTE): otherwise Spark's size(NULL) = -1 feeds
    # sequence(1, -1) = [1, 0, -1] and md5(NULL) while DuckDB yields
    # NULL n_tokens and md5('') — full-row divergence on any corpus
    # with a NULL-text document.
    t = docs.select(
        "doc_id", F.expr(f"coalesce({_TOKS_SPARK}, array())").alias("toks")
    )
    cut = t.join(ivl, "doc_id", "left").select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        # Spark's sequence(1, 0) counts DOWN to [1, 0] (step defaults
        # to -1), so a zero-token doc must short-circuit to array() —
        # DuckDB's generate_series(1, 0) is already empty
        F.expr(
            "IF(size(toks) = 0, array(), "
            "filter(sequence(1, size(toks)), i -> ivs IS NULL OR "
            "NOT exists(ivs, v -> i >= v.s AND i <= v.e)))"
        ).alias("keep_pos"),
        "toks",
    )
    return cut.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_tokens") - F.size("keep_pos"))
        .cast("bigint")
        .alias("cut_tokens"),
        F.size("keep_pos").cast("bigint").alias("kept_tokens"),
        F.md5(
            F.expr(
                "array_join(transform(keep_pos, p -> element_at(toks, p)), ' ')"
            )
        ).alias("kept_md5"),
    )


def _span_frame_ctes() -> str:
    """The dedup_substring_spans CTE chain (shared text, both oracles
    stay in lockstep by construction)."""
    return f"""t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
    g AS (
      SELECT doc_id, CAST(u['p'] AS BIGINT) AS pos,
             {H.md5_int64("u['g']", duck=True)} AS h
      FROM (SELECT doc_id, unnest({_span_grams_duck()}) AS u FROM t)
    ),
    dfq AS (
      SELECT h, COUNT(*) AS df
      FROM (SELECT DISTINCT h, doc_id FROM g)
      GROUP BY h HAVING COUNT(*) >= 2
    ),
    d AS (SELECT g.doc_id, g.pos, f.df FROM g JOIN dfq f USING (h)),
    brks AS (
      SELECT doc_id, pos, df,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) <= {SPAN_GRAM}
                  THEN 0 ELSE 1 END AS brk
      FROM d
    ),
    spans AS (
      SELECT doc_id, pos, df,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS span_id
      FROM brks
    ),
    intervals AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + {SPAN_GRAM - 1} AS e
      FROM spans GROUP BY doc_id, span_id
    ),
    ivl AS (
      SELECT doc_id, list({{'s': s, 'e': e}}) AS ivs
      FROM intervals GROUP BY doc_id
    )"""


@query(
    "dedup_substring_spans",
    # shares the full CTE chain with dedup_span_removal's oracle (the
    # unreferenced intervals/ivl CTEs are pruned by the planner)
    f"""
    WITH {_span_frame_ctes()}
    SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
           MIN(pos) AS start_tok,
           MAX(pos) + {SPAN_GRAM - 1} AS end_tok,
           MAX(pos) + {SPAN_GRAM} - MIN(pos) AS span_tokens,
           COUNT(*) AS n_grams,
           MAX(df) AS max_df
    FROM spans GROUP BY doc_id, span_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal coverage spans of cross-doc duplicated G-token windows
    (Lee et al. 2022 removal regions; see contract note above — span
    text as a whole need not recur verbatim when overlaps chain).

    Linear plan: gram hashes at every position (map-side), two-stage
    exact document frequency (distinct then count — no countDistinct
    hot-key state), position-vs-df equi-join, and a per-doc
    gaps-and-islands window merge. No doc pairs are ever formed, so a
    boilerplate gram shared by a million docs costs a million posting
    rows — not a trillion pairs."""
    return substring_spans_frame(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Span removal: cut the duplicated coverage out of each document
# ---------------------------------------------------------------------------
# The consumption side of dedup_substring_spans — the actual cleaning
# pass a training pipeline runs: drop every token covered by a
# cross-doc duplicated span and fingerprint what remains. Composition
# is pure plan-on-plan: the span frame groups to a per-doc interval
# list (bounded: spans per doc, not tokens), joins back to documents,
# and the cut runs as higher-order array functions over the token
# array — no second explode, no per-token shuffle. Docs with no spans
# pass through whole via the left join.
@query(
    "dedup_span_removal",
    f"""
    WITH {_span_frame_ctes()},
    cut AS (
      -- COALESCE to the empty list mirrors the Spark frame's NULL-text
      -- handling (see span_removal_frame)
      SELECT t.doc_id, len(COALESCE(t.toks, [])) AS n_tokens,
             list_filter(
               generate_series(1, len(COALESCE(t.toks, []))),
               p -> iv.ivs IS NULL OR len(list_filter(iv.ivs,
                      v -> p >= v['s'] AND p <= v['e'])) = 0
             ) AS keep_pos,
             COALESCE(t.toks, []) AS toks
      FROM t LEFT JOIN ivl iv USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           CAST(n_tokens - len(keep_pos) AS BIGINT) AS cut_tokens,
           CAST(len(keep_pos) AS BIGINT) AS kept_tokens,
           md5(COALESCE(array_to_string(
             list_transform(keep_pos, p -> toks[p]), ' '), '')) AS kept_md5
    FROM cut
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove cross-doc duplicated spans from every document and md5
    the surviving token stream. Interval lists are per-doc bounded, so
    the cut is a broadcast-joinable array-lambda pass — linear, no
    token-level shuffle beyond the span frame itself."""
    return span_removal_frame(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup (the record-linkage blocking family)
# ---------------------------------------------------------------------------
# The sixth candidate-generation family, complementing LSH banding /
# SimHash pigeonholing / prefix filtering: sort each language block by
# a normalized text prefix and compare every doc ONLY with its next
# SN_WINDOW-1 neighbors in that order — O(w*n) candidate pairs by
# construction, no pair-space blowup possible. At 100 TB the sort is a
# range-partitioned shuffle (Spark's sort machinery) decomposed into
# size-adaptive contiguous slices — NOT one window task per language
# (one dominant language would otherwise sort the whole corpus in a
# single task). Each slice sorts independently; a tiny
# per-slice count frame turns local row numbers into global positions,
# and neighbor pairs come from an equi-join on (lang, position) — so a
# neighborhood that spans a slice boundary (even across several
# near-empty slices) is found without any overlap bookkeeping. The
# verify stage touches only the w*n candidates. Classic trade-off vs
# LSH: cheaper and fully deterministic, but only finds duplicates
# whose normalized prefixes land them near each other — the
# planted-duplicate recall test and the LSH comparison document
# exactly that.
SN_WINDOW = 3  # compare with the next 2 neighbors in sort order
SN_KEY_LEN = 24  # normalized-prefix sort key length
SN_THRESHOLD_PERMILLE = 400  # token-set Jaccard >= 0.4
# Slice count is adaptive (functions/windows._auto_buckets): derived
# from the input's estimated bytes so each slice sorts a bounded range
# at any scale — 2 slices on the test corpus, thousands at 100 TB.

# Bump on any change to the posting-frame derivation (tokenizer, hash
# family, distinct semantics) — see _LSH_PAIRS_CHAIN_REV.
_TOK_POSTINGS_CHAIN_REV = 1

# Bump on any change to _shingle_hashes (tokenizer, shingling, hash
# family, in-row distinct, NULL-id exclusion).
_SHINGLE_POSTINGS_CHAIN_REV = 1


def shared_shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published ``_shingle_hashes`` postings of the documents table —
    the shared first stage of shingle-Jaccard, containment, MinHash
    signatures, and the LSH quality audit. The tokenize→shingle→md5
    explode is the dominant scan of every consumer, and it is a
    deterministic corpus derivation, so it rides the same
    session-memo + published-artifact tier as the LSH pair frame and
    the token postings: a cold process reads the
    published postings instead of re-shingling the corpus. Every
    documents-table shingle query reads this frame, including the
    ``shared_lsh_pairs`` build, so a session shingles the corpus
    once."""
    kind = (
        f"shingle_postings@r{_SHINGLE_POSTINGS_CHAIN_REV}-n{SHINGLE_N}"
    )
    return A.shared(
        spark,
        kind,
        sf_dir,
        "documents",
        ("postings",),
        lambda: {
            "postings": _shingle_hashes(load_table(spark, sf_dir, "documents"))
        },
    )["postings"]


def shared_token_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(doc_id, h)`` token-hash postings of the documents
    table — the exact-Jaccard verify frame (sorted-neighborhood today;
    any future token-set verifier shares it). A deterministic corpus
    derivation, so it rides the same session-memo + published-artifact
    tier as the LSH pair frame: a cold process reads the published
    postings instead of re-paying the explode→distinct shuffle."""
    h = H.md5_int64("tok", duck=False)

    def _build() -> dict[str, DataFrame]:
        return {
            "postings": load_table(spark, sf_dir, "documents")
            .select("doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("tok"))
            .selectExpr("doc_id", f"{h} AS h")
            .distinct()
        }

    return A.shared(
        spark,
        f"tok_postings@r{_TOK_POSTINGS_CHAIN_REV}",
        sf_dir,
        "documents",
        ("postings",),
        _build,
    )["postings"]


def _sn_oracle() -> str:
    h = H.md5_int64("tok", duck=True)
    leads = ",\n             ".join(
        f"LEAD(doc_id, {i}) OVER w AS n{i}" for i in range(1, SN_WINDOW)
    )
    pair_sel = "\n      UNION ALL\n".join(
        f"      SELECT LEAST(doc_id, n{i}) AS a, GREATEST(doc_id, n{i}) AS b"
        f" FROM nb WHERE n{i} IS NOT NULL"
        for i in range(1, SN_WINDOW)
    )
    return f"""
    WITH t AS (
      -- a NULL doc_id cannot participate in identity pairs: both
      -- engines' LEAST/GREATEST SKIP nulls, so a (NULL, x) neighbor
      -- pair silently becomes the self-pair (x, x) — and the two
      -- engines order NULL ids differently, pairing the NULL row
      -- with different neighbors
      SELECT doc_id, lang, substr(lower(text), 1, {SN_KEY_LEN}) AS k
      FROM documents WHERE doc_id IS NOT NULL
    ),
    nb AS (
      SELECT doc_id,
             {leads}
      FROM t WINDOW w AS (PARTITION BY lang ORDER BY k NULLS LAST, doc_id)
    ),
    pairs0 AS (
{pair_sel}
    ),
    -- SET of distinct-identity pairs: duplicate doc_ids hold two
    -- window rows, re-emitting (a, b) per adjacency (the multiplicity
    -- drove c past min(na, nb) and the denominator to zero) and
    -- pairing a doc with its own other row
    pairs AS (SELECT DISTINCT a, b FROM pairs0 WHERE a <> b),
    tok AS (
      SELECT DISTINCT doc_id, {h} AS h
      FROM (SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    common AS (
      SELECT p.a, p.b, COUNT(*) AS c
      FROM pairs p
      JOIN tok x ON x.doc_id = p.a
      JOIN tok y ON y.doc_id = p.b AND y.h = x.h
      GROUP BY p.a, p.b
    )
    SELECT a AS doc_a, b AS doc_b,
           CAST((1000 * c) // (sa.n + sb.n - c) AS BIGINT)
             AS jaccard_permille
    FROM common
    JOIN sz sa ON a = sa.doc_id
    JOIN sz sb ON b = sb.doc_id
    WHERE (1000 * c) // (sa.n + sb.n - c) >= {SN_THRESHOLD_PERMILLE}
    """


def sorted_neighborhood_candidates(
    t: DataFrame, *, n_buckets: int | None = None
) -> DataFrame:
    """``(a, b)`` candidate pairs: each doc with its next SN_WINDOW-1
    followers in ``(lang, k NULLS LAST, doc_id)`` order, WITHOUT a
    single-task per-language sort.

    Decomposition (``functions/windows.sliced_row_number``): a range
    exchange slices the composite sort order into contiguous,
    size-balanced ranges (ties on ``k`` split across slices by
    ``doc_id``, so a template-heavy corpus cannot produce a hot
    slice); each ``(lang, slice)`` sorts in its own task; a tiny
    per-slice count frame prefix-sums into offsets, giving every row
    its GLOBAL per-lang position. Neighbor pairs are then an equi-join
    on ``(lang, position)`` — follower lookups cross slice boundaries
    (even several empty slices) for free, with no overlap-row
    bookkeeping. The pair set is provably slice-invariant (positions
    don't depend on where the boundaries fall), which the bucket-count
    parity test pins."""
    from ..functions.windows import sliced_row_number

    g = _cached(
        sliced_row_number(
            t,
            ["lang"],
            [F.col("k").isNull(), F.col("k"), F.col("doc_id")],
            "gpos",
            n_buckets=n_buckets,
        ).select("lang", "doc_id", "gpos")
    )
    tgt = g.select(
        "lang",
        F.col("doc_id").alias("l_id"),
        F.explode(
            F.array(*[F.col("gpos") + F.lit(i) for i in range(1, SN_WINDOW)])
        ).alias("tpos"),
    )
    nxt = g.select(
        F.col("lang").alias("r_lang"),
        F.col("doc_id").alias("r_id"),
        F.col("gpos").alias("r_pos"),
    )
    # null-SAFE on lang: NULL lang is a window GROUP in the oracle's
    # PARTITION BY, and a plain equi-join would drop its pairs
    return (
        tgt.join(
            nxt,
            F.col("lang").eqNullSafe(F.col("r_lang"))
            & (F.col("tpos") == F.col("r_pos")),
        )
        .select(
            F.least("l_id", "r_id").alias("a"),
            F.greatest("l_id", "r_id").alias("b"),
        )
        # SET of distinct-identity pairs: a doc_id carried by TWO rows
        # (duplicate ids, different text) holds two positions, so the
        # same (a, b) was emitted per adjacency and the verify join's
        # multiplicity-counted intersection c exceeded min(na, nb) —
        # driving the Jaccard denominator (na + nb - c) to ZERO (ANSI
        # div crash); and a doc paired with its own other row is an
        # identity self-pair, not a near-dup verdict
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


@query("dedup_sorted_neighborhood", _sn_oracle())
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs: per language block, sort by
    the 24-char normalized text prefix, pair each doc with its next 2
    neighbors, verify with exact token-set Jaccard (integer permille),
    keep pairs >= 0.4.

    Candidate generation is O(w*n) with a range-partitioned,
    slice-decomposed sort (see sorted_neighborhood_candidates — no
    per-language single-task window) — the deterministic, blowup-proof
    counterpoint to probabilistic LSH banding. The exact-Jaccard
    verify frame is the published token-posting artifact
    (shared_token_postings), so a cold process pays a read, not an
    explode→distinct shuffle. Recall is limited to prefix-adjacent
    duplicates BY DESIGN: on this template-heavy corpus ~84% of ALL
    doc pairs pass the 0.4 threshold, so no O(n)-candidate scheme can
    approach full recall — the tests pin the candidate bound, the
    verify threshold, slice-invariance, and determinism, not a recall
    figure."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id",
        "lang",
        F.expr(f"substr(lower(text), 1, {SN_KEY_LEN})").alias("k"),
    )  # NULL ids can't pair — see the oracle note
    pairs = sorted_neighborhood_candidates(t)
    # published artifact (memo-persisted): feeds both join arms AND
    # the size agg (3 consumers)
    tok = shared_token_postings(spark, sf_dir)
    sz = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        pairs.join(tok.alias("x"), F.col("a") == F.col("x.doc_id"))
        .join(
            tok.alias("y"),
            (F.col("b") == F.col("y.doc_id"))
            & (F.col("y.h") == F.col("x.h")),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    res = (
        common.join(sz.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(sz.alias("sb"), F.col("b") == F.col("sb.doc_id"))
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.expr("CAST((1000 * c) div (sa.n + sb.n - c) AS BIGINT)").alias(
                "jaccard_permille"
            ),
        )
    )
    return res.where(
        F.col("jaccard_permille") >= SN_THRESHOLD_PERMILLE
    )
