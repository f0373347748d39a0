"""Multimodal column conventions: opaque ``binary`` payloads + typed
metadata structs, with Arrow-batched decode/feature plumbing.

The convention (what an image/audio/video column looks like in this
engine at 100 TB):

    media: struct<
        payload:  binary,          -- opaque encoded bytes
        mime:     string,          -- e.g. image/jpeg
        meta:     struct<width:int, height:int, n_bytes:long>
    >

Decode / resize / frame-sample run as ``mapInPandas`` stages (Arrow
batches in, Arrow batches out) so each executor processes whole record
batches with a real codec library. The codec libraries are not in this
container, so the decode kernel is STUBBED: ``decode_image`` raises
``NotImplementedError`` unless handed the deterministic fake codec used
by the tests. The Spark-side plumbing — schema, batching, partition
behavior — is real and tested (tests/test_multimodal.py).

``multimodal_binary_meta`` is the oracle-checked slice: building the
binary payload column and aggregating its metadata stays inside
codegen'd expressions.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions import hashing as H
from ..sources.tables import load_table, spread_small_scan
from ._registry import make_registry

QUERIES, ORACLES, query = make_registry()

MEDIA_STRUCT = T.StructType(
    [
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def decode_image(payload: bytes, mime: str) -> "object":
    """Decode an encoded image payload into a pixel array.

    STUB: real codecs (Pillow/opencv/ffmpeg) are not available in this
    environment. Callers inject a fake codec via ``extract_features``'s
    ``decoder=`` parameter in tests; calling this directly raises.
    """
    raise NotImplementedError(
        "image/audio codecs are not installed in this environment; "
        "pass a decoder= callable (see tests/test_multimodal.py)"
    )


def attach_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo: wrap a text column as an opaque media struct.

    In production the payload arrives already-encoded from the source
    (parquet binary column); here we synthesize it so the plumbing can
    run against the documents table.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn(
        "media",
        F.struct(
            payload.alias("payload"),
            F.lit("application/octet-stream").alias("mime"),
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
            ).alias("meta"),
        ),
    )


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes, str], "object"] = decode_image,
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched feature extraction over media structs.

    ``mapInPandas``: each Arrow batch is decoded payload-by-payload with
    ``decoder`` and reduced to a fixed-size feature vector. At scale
    this is an embarrassingly parallel map stage sized by
    ``maxPartitionBytes``; locally a small corpus often scans as ONE
    file → one task, which would serialize the (real-codec) decode work
    on a single core, so the input gets a parallelism floor first
    (``spread_small_scan`` — a no-op whenever the scan is already at
    least as parallel as the session).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # zip over column arrays: decode is inherently per-payload,
            # but iterrows() is the slowest row accessor pandas has
            for doc_id, media in zip(pdf[id_col], pdf["media"]):
                payload, mime = media["payload"], media["mime"]
                decoded = decoder(bytes(payload), mime)
                arr = [float(x) for x in decoded]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "mime": mime,
                        "n_bytes": len(payload),
                        "feature": arr,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA])

    return spread_small_scan(df.select(id_col, "media")).mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


@query(
    "multimodal_binary_meta",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT md5(text)) AS n_distinct_payloads,
           CAST(MAX(octet_length(encode(text))) AS INT) AS max_bytes
    FROM documents
    GROUP BY source
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary payload column built JVM-side; metadata aggregated without
    # ever decoding — the access pattern that keeps 100 TB of media
    # scannable (parquet stats + column pruning skip the payload bytes).
    docs = attach_media(load_table(spark, sf_dir, "documents"))
    payload = F.col("media.payload")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length(payload)).cast("bigint").alias("total_bytes"),
        F.countDistinct(F.md5(payload)).alias("n_distinct_payloads"),
        F.max(F.octet_length(payload)).cast("int").alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# Payload fuzzy-hash near-dup: codec-free content dedup for media
# ---------------------------------------------------------------------------
# Perceptual hashing needs a codec; ssdeep-style byte-level fuzzy
# hashing does not. A 64-bit SimHash over distinct byte 4-grams of the
# OPAQUE payload (read as hex pairs, 8 hex chars per gram) catches
# re-uploads, re-muxed containers, and trailing-metadata variants of
# the same media bytes without ever decoding — the first dedup pass a
# media lake runs before any codec-level near-dup. The signature/band/
# verify machinery is shared with operators/dedup.py (simhash64);
# only word extraction differs. Payloads here are the synthesized
# UTF-8 frames from attach_media, so the DuckDB oracle replays the
# byte stream via encode(text); with real media the payload column is
# already binary and the same hex-gram expression applies.

# hex() casing differs across engines (Spark upper, DuckDB lower):
# normalize with upper() on both sides. The engine cuts each 4-byte
# gram from the binary payload and hexes it: binary substring indexes
# by byte, so the split is linear in payload length, where 8-character
# slices of the hex string walked the UTF-8 string from its start on
# every slice (quadratic). The empty payload's one empty gram is
# filtered out, as the oracle's range yields none.
_PAYLOAD_GRAMS_SPARK = (
    "filter(transform(sequence(1, int(ceil(octet_length(payload) / 4.0))), "
    "i -> upper(hex(substring(payload, (i - 1) * 4 + 1, 4)))), g -> g != '')"
)


def _payload_simhash_oracle() -> str:
    from .dedup import _simhash64_oracle

    words_cte = (
        "t AS (SELECT doc_id, upper(hex(encode(text))) AS hx FROM documents),\n"
        "    tok AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "generate_series(1, (len(hx) + 7) // 8), "
        "i -> substr(hx, (i - 1) * 8 + 1, 8)))) AS w FROM t)"
    )
    return _simhash64_oracle(words_cte)


@query("multimodal_payload_simhash", _payload_simhash_oracle())
def multimodal_payload_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import hamming_pairs_from_signature, simhash64_signature

    docs = attach_media(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id", F.col("media.payload").alias("payload")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(_PAYLOAD_GRAMS_SPARK))
        ).alias("w"),
    )
    return hamming_pairs_from_signature(simhash64_signature(grams))


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)

FRAME_BYTES = 16  # fake-container frame size (deterministic stub codec)
FRAME_STRIDE = 4  # keep every 4th frame


def decode_frames(payload: bytes, mime: str):
    """Decode a video-ish payload into an iterable of frames.

    STUB: real demuxers (ffmpeg/pyav) are not in this container.
    Callers inject a decoder via ``sample_frames``'s ``decoder=``
    parameter; the tests use the deterministic fake-container codec
    (fixed 16-byte frames) so the Spark plumbing runs for real.
    """
    raise NotImplementedError(
        "video demuxers are not installed in this environment; "
        "pass a decoder= callable (see tests/test_multimodal.py)"
    )


def fake_container_frames(payload: bytes, mime: str):
    """Deterministic stand-in demuxer: fixed 16-byte frames."""
    for i in range(len(payload) // FRAME_BYTES):
        yield payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]


def sample_frames(
    df: DataFrame,
    decoder: Callable[[bytes, str], "object"] = decode_frames,
    id_col: str = "doc_id",
    stride: int = FRAME_STRIDE,
) -> DataFrame:
    """Frame sampling over media structs: one output row per kept frame.

    ``mapInPandas`` so each Arrow batch demuxes its payloads with a
    real codec executor-side; emitting multiple rows per input row is
    the flatMap shape Generate gives JVM plans. The sampling itself
    adds no shuffle, but the input first passes ``spread_small_scan``,
    which DOES round-robin-repartition when the scan has fewer
    partitions than the session parallelism (tiny fixtures, single
    files) so the Arrow work isn't single-threaded — at 100 TB the
    scan already has enough partitions and that floor is a no-op,
    leaving a pure map stage whose output volume is input ×
    kept-frames: size maxPartitionBytes for the OUTPUT, not the input.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media in zip(pdf[id_col], pdf["media"]):
                payload, mime = bytes(media["payload"]), media["mime"]
                for idx, frame in enumerate(decoder(payload, mime)):
                    if idx % stride == 0:
                        rows.append((doc_id, idx, frame))
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SCHEMA]
            )

    return spread_small_scan(df.select(id_col, "media")).mapInPandas(
        run, schema=FRAME_SCHEMA
    )


@query(
    "multimodal_frame_sample",
    f"""
    WITH f AS (
      SELECT doc_id,
             CAST(unnest(generate_series(
                 0, CAST(length(text) // {FRAME_BYTES} AS INT) - 1,
                 {FRAME_STRIDE})) AS INT) AS frame_idx,
             text
      FROM documents
      WHERE length(text) >= {FRAME_BYTES}
    )
    SELECT doc_id, frame_idx,
           md5(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))
             AS frame_md5
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checked slice of frame sampling: with the
    deterministic fake container (fixed-size frames over the payload),
    sampling is pure codegen — sequence → explode (Generate) →
    substring — no Python at all. The mapInPandas path above exists
    for real codecs.

    Grain caveat: this twin frames by CHARACTERS while the decoder
    path frames the payload by BYTES — identical on the shipped ASCII
    corpus, divergent for multi-byte UTF-8 text. The byte-true SQL
    formulation (encode + binary substring) is not expressible in the
    DuckDB oracle (no BLOB substring), so the char-grain twin is the
    checkable slice and the byte-grain contract lives in the
    ``sample_frames`` unit tests."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= FRAME_BYTES
    )
    n_frames = (F.length("text") / FRAME_BYTES).cast("int")
    idx = F.explode(
        F.sequence(F.lit(0), n_frames - 1, F.lit(FRAME_STRIDE))
    ).alias("frame_idx")
    f = docs.select("doc_id", idx, "text")
    return f.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.md5(
            F.expr(
                f"substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})"
            )
        ).alias("frame_md5"),
    )


# Quantization scale shared with operators/similarity.py::hof_array_ops
# (float32→double is exact; x*10000 is the same IEEE double in both
# engines; both round ties away from zero).
_Q = 10000
# CASE len>0 AND no-bad-element: DuckDB's list_aggregate sums an
# EMPTY list to NULL while Spark's aggregate folds it to the 0 init,
# a NULL ELEMENT is skipped by DuckDB's 'sum' but NULL-propagates
# through Spark's fold, and a NaN/Inf element aborts the BIGINT
# cast in both engines —
# pin both engines to NULL for empty/NULL/NULL-or-non-finite-element
# embeddings (mass unmeasurable). BAD_ELEM_LAMBDA is the one shared
# spelling (operators/similarity.py).
from .similarity import BAD_ELEM_LAMBDA as _BAD_ELEM  # noqa: E402

_QABS_DUCK = (
    f"CASE WHEN len(embedding) > 0"
    f" AND len(list_filter(embedding, {_BAD_ELEM})) = 0 THEN"
    f" list_aggregate(list_transform(embedding,"
    f" x -> abs(CAST(ROUND(CAST(x AS DOUBLE) * {_Q}, 0) AS BIGINT))), 'sum')"
    f" END"
)


@query(
    "multimodal_embedding_join",
    f"""
    SELECT d.source, e.label,
           COUNT(*) AS n_items,
           CAST(SUM(octet_length(encode(d.text))) AS BIGINT) AS total_bytes,
           CAST(SUM({_QABS_DUCK}) AS BIGINT) AS q_l1_sum,
           CAST(SUM({_QABS_DUCK}) AS DOUBLE) / COUNT(*) AS avg_q_l1
    FROM documents d
    JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.source, e.label
    """,
)
def multimodal_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-modal access pattern: media items (opaque payload +
    metadata) joined to their embedding rows by id, profiled per
    (source, label) — how a multimodal corpus is sliced for mixture
    decisions without ever decoding a payload. The join shuffles ids,
    metadata, and 64-float vectors only (parquet column pruning never
    reads payload bytes on this plan); embedding mass is folded
    JVM-side with the quantized-integer HOF (exact cross-engine), and
    the average is an exact int/int ratio."""
    docs = attach_media(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    # when(size>0 and no bad element): the pin described at
    # _QABS_DUCK (Spark size(NULL) is -1, so one predicate covers
    # NULL and empty; exists() covers NULL/NaN/Inf elements)
    qabs = F.when(
        F.expr(
            "size(embedding) > 0"
            f" AND NOT exists(embedding, {_BAD_ELEM})"
        ),
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: F.abs(
                    F.round(x.cast("double") * _Q, 0).cast("bigint")
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ),
    )
    j = docs.join(emb, emb["vec_id"] == docs["doc_id"])
    return j.groupBy("source", "label").agg(
        F.count("*").alias("n_items"),
        F.sum(F.octet_length(F.col("media.payload")))
        .cast("bigint")
        .alias("total_bytes"),
        F.sum(qabs).alias("q_l1_sum"),
        (F.sum(qabs).cast("double") / F.count("*")).alias("avg_q_l1"),
    )


# ---------------------------------------------------------------------------
# Export shard manifest (WebDataset-style packing plan)
# ---------------------------------------------------------------------------
# Training jobs consume media as fixed-count shards; the manifest —
# shard id, item count, byte total, and a deterministic fingerprint of
# the member list — is what makes a 100 TB export resumable and
# verifiable. Shard assignment is a pure hash of the item key (no
# shuffle beyond the manifest groupBy); the fingerprint hashes the
# SORTED member ids so it is independent of task arrival order. The
# payload itself is never decoded — only octet_length touches it, and
# parquet column pruning keeps even that to metadata at scan time.
N_EXPORT_SHARDS = 16


@query(
    "multimodal_shard_manifest",
    f"""
    WITH m AS (
      -- keyless (NULL doc_id) items cannot be manifested: they hash
      -- to a NULL shard whose members_fp diverged between engines
      -- (Spark collect_list skips the NULL id -> md5(''), DuckDB's
      -- array_to_string nulls the whole fp)
      SELECT doc_id,
             ({H.md5_int64("CAST(doc_id AS VARCHAR)", duck=True)})
               % {N_EXPORT_SHARDS} AS shard,
             octet_length(encode(text)) AS n_bytes
      FROM documents
      WHERE doc_id IS NOT NULL
    )
    SELECT shard,
           COUNT(*) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(MAX(n_bytes) AS BIGINT) AS max_item_bytes,
           md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS members_fp
    FROM m GROUP BY shard
    """,
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_media(
        load_table(spark, sf_dir, "documents").where("doc_id IS NOT NULL")
    )
    # plain %: md5_int64 is constructed non-negative ([0, 2^32) —
    # hashing.py's contract every other consumer relies on), so no
    # sign-fix double-mod
    shard = F.expr(
        f"({H.md5_int64('CAST(doc_id AS STRING)', duck=False)})"
        f" % {N_EXPORT_SHARDS}"
    )
    n_bytes = F.octet_length(F.col("media.payload"))
    return (
        docs.select("doc_id", shard.alias("shard"), n_bytes.alias("n_bytes"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.max("n_bytes").cast("bigint").alias("max_item_bytes"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("members_fp"),
        )
    )
