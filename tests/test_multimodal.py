"""Multimodal plumbing tests: media struct schema, Arrow-batched
feature extraction with an injected fake codec, and the stubbed real
codec path."""

from __future__ import annotations

import pytest

from energy_data_pipeline_project_spark.operators import multimodal as M
from energy_data_pipeline_project_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def fake_decoder(payload: bytes, mime: str):
    """Deterministic fake codec: 4 summary stats of the raw bytes."""
    n = max(len(payload), 1)
    return [
        float(len(payload)),
        float(sum(payload) % 997),
        float(payload[0] if payload else 0),
        float(payload[-1] if payload else 0),
    ]


def test_media_struct_schema(spark):
    docs = M.attach_media(load_table(spark, SF_SMOKE, "documents"))
    field = dict(zip(docs.schema.names, docs.schema.fields))["media"]
    assert field.dataType.simpleString() == (
        "struct<payload:binary,mime:string,"
        "meta:struct<width:int,height:int,n_bytes:bigint>>"
    )
    row = docs.select("text", "media").first()
    assert bytes(row["media"]["payload"]) == row["text"].encode("utf-8")
    assert row["media"]["meta"]["n_bytes"] == len(row["text"].encode("utf-8"))


def test_extract_features_with_fake_codec(spark):
    docs = M.attach_media(load_table(spark, SF_SMOKE, "documents")).limit(50)
    feats = M.extract_features(docs, decoder=fake_decoder)
    rows = feats.collect()
    assert len(rows) == 50
    by_id = {r["doc_id"]: r for r in rows}
    src = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for doc_id, r in by_id.items():
        expected = fake_decoder(src[doc_id].encode("utf-8"), r["mime"])
        assert r["feature"] == expected
        assert r["n_bytes"] == len(src[doc_id].encode("utf-8"))


def test_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG...", "image/png")


def test_extract_features_partition_parallel(spark):
    """The map stage must preserve partitioning (no shuffle)."""
    docs = M.attach_media(load_table(spark, SF_SMOKE, "documents")).repartition(4)
    feats = M.extract_features(docs, decoder=fake_decoder)
    assert feats.rdd.getNumPartitions() == 4
    assert feats.count() == docs.count()

def test_sample_frames_plumbing(spark):
    """Frame sampler: fake-container demux executor-side, one row per
    kept frame, frames reassemble to the original payload prefix."""
    from energy_data_pipeline_project_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        attach_media,
        fake_container_frames,
        sample_frames,
    )
    from energy_data_pipeline_project_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = attach_media(load_table(spark, SF_SMOKE, "documents")).limit(20)
    out = sample_frames(docs, decoder=fake_container_frames).collect()
    assert out, "expected sampled frames"
    src = {
        r["doc_id"]: bytes(r["media"]["payload"]) for r in docs.collect()
    }
    for r in out:
        assert r["frame_idx"] % FRAME_STRIDE == 0
        start = r["frame_idx"] * FRAME_BYTES
        assert bytes(r["frame"]) == src[r["doc_id"]][start : start + FRAME_BYTES]


def test_decode_frames_stub_raises(spark):
    from energy_data_pipeline_project_spark.operators.multimodal import (
        decode_frames,
    )

    import pytest

    with pytest.raises(NotImplementedError):
        decode_frames(b"xx", "video/mp4")


def test_payload_simhash_pairs_identical_payloads(spark):
    """Two media rows with byte-identical payloads must surface as a
    Hamming-0 pair; an unrelated payload must not pair with them."""
    import pyspark.sql.functions as F

    from energy_data_pipeline_project_spark.operators.dedup import (
        hamming_pairs_from_signature,
        simhash64_signature,
    )
    from energy_data_pipeline_project_spark.operators.multimodal import (
        _PAYLOAD_GRAMS_SPARK,
    )

    rows = [
        (1, "the same exact payload bytes repeated here for realism"),
        (2, "the same exact payload bytes repeated here for realism"),
        (3, "completely different content with no shared byte grams at all xyz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = df.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_PAYLOAD_GRAMS_SPARK))).alias("w"),
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in hamming_pairs_from_signature(
            simhash64_signature(grams)
        ).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_payload_grams_equal_python_hex_split(spark):
    """The engine's payload gram split equals the oracle's: distinct
    8-hex-character slices of the upper-case hex payload, on a payload
    of over 200 000 bytes (cut in one pass, not a quadratic walk of
    the hex string), on byte lengths that are not a multiple of 4 (a
    short last gram), and on an empty payload (no grams)."""
    import random

    import pyspark.sql.functions as F

    from energy_data_pipeline_project_spark.operators.multimodal import (
        _PAYLOAD_GRAMS_SPARK,
    )

    rnd = random.Random(7)
    payloads = {
        1: bytes(rnd.getrandbits(8) for _ in range(200_003)),
        2: b"abcde",
        3: b"abcdef",
        4: b"\x00\xffz",
        5: b"",
        6: b"abcdefgh",
    }
    df = spark.createDataFrame(
        list(payloads.items()), "doc_id long, payload binary"
    )
    got = {
        r.doc_id: set(r.grams)
        for r in df.select(
            "doc_id",
            F.array_distinct(F.expr(_PAYLOAD_GRAMS_SPARK)).alias("grams"),
        ).collect()
    }
    for doc_id, payload in payloads.items():
        hx = payload.hex().upper()
        assert got[doc_id] == {hx[i : i + 8] for i in range(0, len(hx), 8)}
