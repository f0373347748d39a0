"""Semantic invariants of the text operators (beyond oracle parity)."""

from __future__ import annotations

import pyspark.sql.functions as F

from energy_data_pipeline_project_spark.operators import text
from energy_data_pipeline_project_spark.sources.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE


def test_chunk_reconstruction_exact(spark):
    """Dechunking (drop the first `overlap` tokens of every chunk after
    the first) must rebuild every document's token sequence exactly."""
    ch = text.QUERIES["text_chunk"](spark, SF_CORRECT)
    rebuilt = (
        ch.withColumn(
            "part",
            F.when(F.col("chunk_id") == 0, F.split("chunk_text", " ")).otherwise(
                F.expr(
                    f"slice(split(chunk_text, ' '), {text.CHUNK_OVERLAP + 1}, "
                    f"{10**6})"
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list(struct(chunk_id, part))),"
                " x -> x.part))"
            ).alias("rebuilt")
        )
    )
    docs = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("toks")
    )
    assert docs.join(rebuilt, "doc_id").where("toks != rebuilt").count() == 0
    assert rebuilt.count() == docs.where(F.size("toks") > 0).count()


def test_no_chunk_contained_in_predecessor(spark):
    """Every doc with more than one chunk must have full-size non-final
    chunks (the start bound guarantees no fully-redundant chunk)."""
    ch = text.QUERIES["text_chunk"](spark, SF_CORRECT)
    bad = (
        ch.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.max("n_chunk_tokens").alias("mx"))
        .where(f"n > 1 AND mx < {text.CHUNK_TOKENS}")
        .count()
    )
    assert bad == 0


def test_fingerprint_is_order_sensitive(spark):
    """The positional fingerprint must distinguish permutations (unlike
    a bag-of-words hash)."""
    from energy_data_pipeline_project_spark.functions import hashing as H

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "doc_id long, text string"
    )

    pos = df.select(
        "doc_id",
        F.posexplode(F.expr(H.tokens_sql("text", duck=False))).alias("p", "w"),
    ).select("doc_id", (F.col("p") + 1).alias("i"), "w")
    h = F.expr(H.md5_int64("w", duck=False))
    out = pos.groupBy("doc_id").agg(
        (F.sum((h % H.FINGERPRINT_MOD) * F.col("i")) % H.FINGERPRINT_MOD).alias("fp")
    )
    a, b = [r["fp"] for r in out.orderBy("doc_id").collect()]
    assert a != b


def test_stratified_sample_keeps_minority_strata_whole(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    sampled = text.QUERIES["docs_stratified_sample"](spark, SF_CORRECT)
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r["lang"]: r["n"] for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lg, n in base.items():
        if lg in text.STRATA_KEEP_PCT:
            # downsampled stratum: strictly fewer, roughly the rate
            assert kept[lg] < n
        else:
            assert kept[lg] == n, lg  # minority strata untouched


def test_mix_upsample_copy_counts_match_factors(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    up = text.QUERIES["corpus_mix_upsample"](spark, SF_CORRECT)
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in up.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lg, n in base.items():
        factor = text.MIX_REPEATS.get(lg, text.MIX_DEFAULT_REPEAT)
        assert got[lg] == n * factor, lg
    # synthetic ids must be unique across all copies
    assert up.select("sample_id").distinct().count() == up.count()


def test_pack_sequences_offsets_are_contiguous(spark):
    packed = text.QUERIES["chunk_pack_sequences"](spark, SF_CORRECT)
    rows = sorted(
        (r["lang"], r["stream_offset"], r["n_tokens"], r["pack_id"])
        for r in packed.collect()
    )
    # per stream: each doc starts exactly where the previous ended, and
    # pack_id is the offset divided by the budget
    from itertools import groupby

    for lang, grp in groupby(rows, key=lambda r: r[0]):
        expect = 0
        for _, off, n, pack in grp:
            assert off == expect
            assert pack == off // text.PACK_TOKEN_BUDGET
            expect = off + n


def test_boilerplate_removal_semantics(spark):
    from energy_data_pipeline_project_spark.operators.text import (
        BOILERPLATE_MAX_DOCS,
        QUERIES,
    )
    from energy_data_pipeline_project_spark.sources.tables import load_table

    out = QUERIES["text_boilerplate_removal"](spark, SF_SMOKE).cache()
    docs = load_table(spark, SF_SMOKE, "documents")
    try:
        # every document survives (even fully-boilerplate ones)
        assert out.count() == docs.count()
        # the threshold actually fires on this corpus
        removed_total = out.agg(F.sum("removed_segments")).collect()[0][0]
        assert removed_total > 0
        # docs with nothing removed reconstruct EXACTLY
        joined = out.join(docs, "doc_id").where(F.col("removed_segments") == 0)
        mismatched = joined.where(
            F.col("cleaned_text") != F.col("text")
        ).count()
        assert mismatched == 0
        assert joined.count() > 0  # the exactness check isn't vacuous
    finally:
        out.unpersist()


def test_vocab_coverage_reaches_one(spark):
    from energy_data_pipeline_project_spark.operators.text import QUERIES

    out = QUERIES["text_vocab_coverage"](spark, SF_SMOKE).cache()
    try:
        last = out.orderBy(F.desc("rank")).limit(1).collect()[0]
        assert abs(last["cum_coverage"] - 1.0) < 1e-12
        # ranks are a gapless 1..N total order
        n = out.count()
        assert out.agg(F.max("rank")).collect()[0][0] == n
        assert out.select("rank").distinct().count() == n
    finally:
        out.unpersist()


def test_shuffle_shards_partition_invariants(spark):
    from energy_data_pipeline_project_spark.operators.text import (
        QUERIES,
        SHUFFLE_NSHARDS,
    )

    out = QUERIES["docs_shuffle_shards"](spark, SF_SMOKE).cache()
    try:
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        # union of shards IS the corpus (no row lost or duplicated)
        assert out.count() == docs.count()
        assert out.select("doc_id").distinct().count() == docs.count()
        # every shard id is in range and positions are gapless 1..n
        per = (
            out.groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.max("shard_pos").alias("mx"),
                F.countDistinct("shard_pos").alias("nd"),
            )
            .collect()
        )
        assert all(0 <= r["shard"] < SHUFFLE_NSHARDS for r in per)
        assert all(r["mx"] == r["n"] == r["nd"] for r in per)
        # the hash actually spreads: more than one shard is populated
        assert len(per) > 1
    finally:
        out.unpersist()


def test_recursive_dechunk_rebuilds_originals(spark):
    """The recursive-CTE reconstruction equals the original text for
    every chunked document (chunking drops nothing, recursion appends
    exactly the non-overlap tail of each successor chunk)."""
    from energy_data_pipeline_project_spark.operators.text import QUERIES

    out = QUERIES["text_dechunk_sql"](spark, SF_SMOKE)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    joined = out.join(docs, "doc_id").cache()
    try:
        n = joined.count()
        assert n > 0
        # every doc with at least one token is reconstructed
        chunked = QUERIES["text_chunk"](spark, SF_SMOKE).select("doc_id").distinct().count()
        assert n == chunked
        mismatched = joined.where(
            F.col("rebuilt_text") != F.col("text")
        ).count()
        assert mismatched == 0
    finally:
        joined.unpersist()


def test_redact_email_pattern_bounded_and_engines_agree(spark):
    """text_redact's email pattern feeds both Spark (Java regex) and
    its DuckDB oracle (RE2). The local part is capped at 64 chars so a
    long '@'-free document scans in linear time instead of rescanning
    to the end from every start position; on a 70-char local part both
    engines must still find the same (leftmost, 64-char-bounded) match
    and produce the same replacement."""
    import duckdb

    pat = text.REDACT_EMAIL_PATTERN
    docs = [
        ("long_local", "to " + "a" * 70 + "@mail.example.com please"),
        ("no_at", "x" * 200_000),
    ]
    got = {
        r["k"]: (r["n"], r["red"])
        for r in spark.createDataFrame(docs, "k string, t string")
        .select(
            "k",
            F.regexp_count("t", F.lit(pat)).cast("int").alias("n"),
            F.regexp_replace("t", pat, "<EMAIL>").alias("red"),
        )
        .collect()
    }
    con = duckdb.connect()
    want = {
        k: (n, red)
        for k, n, red in con.execute(
            "SELECT k, CAST(len(regexp_extract_all(t, $1)) AS INT),"
            " regexp_replace(t, $1, '<EMAIL>', 'g')"
            " FROM (VALUES ($2, $3), ($4, $5)) v(k, t)",
            [pat, *docs[0], *docs[1]],
        ).fetchall()
    }
    assert got == want
    assert got["long_local"] == (1, "to aaaaaa<EMAIL> please")
    assert got["no_at"] == (0, "x" * 200_000)
