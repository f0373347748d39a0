"""Property-based tests (SURVEY.md §5.2): the invariants that define
the engine's semantics, under randomized inputs.

- arrays_zip + null-drop: for ANY payload shape (misaligned arrays,
  embedded nulls, empty arrays) silver row counts equal the
  Python-computed expectation.
- coalesce probing: whichever candidate field the payload uses, the
  first present one (in probe order) wins.
- cross-engine hashing: Spark's md5→int64 and minhash permutations
  agree with DuckDB bit-for-bit on arbitrary unicode tokens.
- shared SimHash/Hamming SQL: the one text both engines read gives
  the same signatures and distances in Spark, DuckDB and a Python
  reference, sign-adjacent bit 31 and all-ones halves included.
"""

from __future__ import annotations

import hashlib
import json

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from energy_data_pipeline_project_spark.functions import hashing as H
from energy_data_pipeline_project_spark.pipeline.config import default_datasets
from energy_data_pipeline_project_spark.pipeline.silver import extract_timeseries
from energy_data_pipeline_project_spark.schemas import BRONZE_POWER, BRONZE_PRICE

import os

# PROPERTY_EXAMPLES=100 for a deep fuzz run; 12 keeps the suite fast.
SETTINGS = settings(
    max_examples=int(os.environ.get("PROPERTY_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

epoch = st.integers(min_value=0, max_value=4_000_000_000)
mw = st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False).map(lambda x: round(x, 3)))


@st.composite
def power_payloads(draw):
    n_t = draw(st.integers(0, 8))
    times = draw(st.lists(epoch, min_size=n_t, max_size=n_t))
    types = []
    for i in range(draw(st.integers(0, 4))):
        n_v = draw(st.integers(0, 12))  # may be shorter/longer than times
        types.append(
            {
                "name": f"type_{i}",
                "data": draw(st.lists(mw, min_size=n_v, max_size=n_v)),
            }
        )
    return {"unix_seconds": [float(t) for t in times], "production_types": types}


@SETTINGS
@given(payload=power_payloads())
def test_zip_nulldrop_invariant(spark, payload):
    power_ds = default_datasets()[0]
    bronze = spark.createDataFrame(
        [("de", "2025-01-01", json.dumps(payload))], schema=BRONZE_POWER
    )
    got = extract_timeseries(bronze, power_ds).count()
    times = payload["unix_seconds"]
    expected = sum(
        1
        for t in payload["production_types"]
        for i in range(min(len(times), len(t["data"])))
        if times[i] is not None and t["data"][i] is not None
    )
    assert got == expected


@SETTINGS
@given(
    fields=st.lists(
        st.sampled_from(["price", "prices", "data"]), min_size=1, max_size=3, unique=True
    ),
    n=st.integers(1, 8),
    data=st.data(),
)
def test_coalesce_probe_first_present_wins(spark, fields, n, data):
    price_ds = default_datasets()[1]
    times = [float(3600 * i) for i in range(n)]
    payload = {"unix_seconds": times}
    values = {}
    for f in fields:
        values[f] = [
            round(data.draw(st.floats(-500, 500, allow_nan=False)), 2)
            for _ in range(n)
        ]
        payload[f] = values[f]
    bronze = spark.createDataFrame(
        [("DE-LU", "2025-01-01", json.dumps(payload))], schema=BRONZE_PRICE
    )
    rows = extract_timeseries(bronze, price_ds).orderBy("timestamp").collect()
    winner = next(p for p in ("price", "prices", "data") if p in values)
    assert [r["price_eur_mwh"] for r in rows] == values[winner]


TOKENS = st.lists(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), blacklist_characters="'\"\\\x00"
        ),
        min_size=1,
        max_size=20,
    ),
    min_size=1,
    max_size=8,
    unique=True,
)


@SETTINGS
@given(tokens=TOKENS)
def test_hash_parity_spark_duckdb(spark, tokens):
    import pyspark.sql.functions as F

    sdf = spark.createDataFrame([(t,) for t in tokens], "w string").select(
        "w",
        F.expr(H.md5_int64("w", duck=False)).alias("h"),
        F.expr(H.minhash_expr(0, H.md5_int64("w", duck=False))).alias("m0"),
        F.expr(H.minhash_expr(7, H.md5_int64("w", duck=False))).alias("m7"),
    )
    got = {r["w"]: (r["h"], r["m0"], r["m7"]) for r in sdf.collect()}

    con = duckdb.connect()
    for t in tokens:
        h, m0, m7 = con.execute(
            f"SELECT {H.md5_int64('?', duck=True)},"
            f" {H.minhash_expr(0, H.md5_int64('?', duck=True))},"
            f" {H.minhash_expr(7, H.md5_int64('?', duck=True))}",
            [t, t, t],
        ).fetchone()
        assert got[t] == (h, m0, m7), t
    con.close()


def _md5_half(w: str, start: int) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[start : start + 8], 16)


def _vote_pack(hashes: list[int], bits: int) -> int:
    """Python reference SimHash: bit j set iff more hashes set it than not."""
    return sum(
        1 << j
        for j in range(bits)
        if sum(1 if (h >> j) & 1 else -1 for h in hashes) > 0
    )


# 32-bit signature halves: any value, plus the sign-adjacent bit 31
# alone, the all-ones half and its complement below bit 31
HALVES = st.one_of(
    st.integers(0, 2**32 - 1), st.sampled_from([2**31, 2**32 - 1, 2**31 - 1])
)


@SETTINGS
@given(
    tokens=TOKENS,
    votes=st.lists(st.integers(-2, 2), min_size=32, max_size=32),
    sigs=st.lists(st.tuples(HALVES, HALVES), min_size=1, max_size=4),
)
def test_simhash_fragments_parity_spark_duckdb(spark, tokens, votes, sigs):
    """The shared SimHash vote/pack and Hamming verify texts read alike
    in Spark and DuckDB (the xor switch included) and match a Python
    reference."""
    from energy_data_pipeline_project_spark.operators import dedup as D

    con = duckdb.connect()
    words = spark.createDataFrame([(1, t) for t in tokens], "doc_id long, w string")
    duck_words = "(SELECT 1 AS doc_id, unnest($1) AS w)"
    lo = [_md5_half(t, 0) for t in tokens]
    hi = [_md5_half(t, 8) for t in tokens]
    for spec, want in (
        (D._SIMHASH16, (1, _vote_pack(lo, 16))),
        (D._SIMHASH64, (1, _vote_pack(hi, 32), _vote_pack(lo, 32))),
    ):
        got = D._simhash_frame(words, spec).collect()
        assert [tuple(r) for r in got] == [want]
        duck = con.execute(D._simhash_sql(duck_words, spec), [tokens]).fetchall()
        assert duck == [want]

    # pack alone: the drawn votes and all-positive votes (all-ones half)
    cols = [f"lo{j}" for j in range(32)]
    pack = D._simhash_pack_sql("lo", 32)
    for v in (votes, [1] * 32):
        want = sum(1 << j for j in range(32) if v[j] > 0)
        row = spark.createDataFrame([v], ", ".join(f"{c} int" for c in cols))
        assert row.selectExpr(pack).first()[0] == want
        duck_row = ", ".join(f"{x} AS {c}" for x, c in zip(v, cols))
        duck = con.execute(f"SELECT {pack} FROM (SELECT {duck_row})").fetchone()
        assert duck[0] == want

    # Hamming: each drawn signature with a partner two bits away (bit 31
    # of sim_hi, bit 0 of sim_lo), and an all-ones signature with a
    # partner one bit 31 away
    rows = [r for h, l in sigs for r in ((h, l), (h ^ 2**31, l ^ 1))]
    rows += [(2**32 - 1, 2**32 - 1), (2**31 - 1, 2**32 - 1)]
    sig = [(i, h, l) for i, (h, l) in enumerate(rows)]
    cand = [(a[0], b[0]) for a in sig for b in sig if a[0] < b[0]]
    want = sorted(
        (a[0], b[0], bin(a[1] ^ b[1]).count("1") + bin(a[2] ^ b[2]).count("1"))
        for a in sig
        for b in sig
        if a[0] < b[0]
    )
    got = D._pair_sides(
        spark.createDataFrame(cand, "doc_a long, doc_b long"),
        *[spark.createDataFrame(sig, "doc_id long, sim_hi long, sim_lo long")] * 2,
        "doc_a",
        "doc_b",
    ).selectExpr("cand.doc_a", "cand.doc_b", D._hamming_sql(duck=False))
    assert sorted(tuple(r) for r in got.collect()) == want
    con.register("sig", pd.DataFrame(sig, columns=["doc_id", "sim_hi", "sim_lo"]))
    con.register("cand", pd.DataFrame(cand, columns=["doc_a", "doc_b"]))
    sides = D._pair_sides_sql("cand", "sig", "sig", "doc_a", "doc_b")
    duck = con.execute(
        f"SELECT doc_a, doc_b, {D._hamming_sql(duck=True)} FROM {sides}"
    ).fetchall()
    assert sorted(duck) == want
    con.close()


def test_shingle_parity_spark_duckdb(spark):
    """Same shingling in both engines for assorted edge-case docs."""
    import pyspark.sql.functions as F

    docs = [
        "",
        "one",
        "one two",
        "one two three",
        "a  b   c d",  # repeated separators → empty tokens filtered
        "x " * 50,
        "α β γ δ ε",
    ]
    sdf = (
        spark.createDataFrame([(d,) for d in docs], "text string")
        .withColumn("toks", F.expr(H.tokens_sql("text", duck=False)))
        .select(
            "text",
            F.expr(H.shingles_sql("toks", 3, duck=False)).alias("sh"),
        )
    )
    got = {r["text"]: sorted(r["sh"]) for r in sdf.collect()}
    con = duckdb.connect()
    for d in docs:
        (sh,) = con.execute(
            f"SELECT {H.shingles_sql('toks', 3, duck=True)} FROM "
            f"(SELECT {H.tokens_sql('?', duck=True)} AS toks)",
            [d],
        ).fetchone()
        assert sorted(sh) == got[d], repr(d)
    con.close()


# ---------------------------------------------------------------------------
# BPE greedy merge: the window-function plan vs a sequential reference
# ---------------------------------------------------------------------------
def _bpe_reference_merge(seq: list, pair: tuple) -> list:
    """Left-to-right greedy merge, the definitional implementation."""
    out, i = [], 0
    while i < len(seq):
        if i + 1 < len(seq) and (seq[i], seq[i + 1]) == pair:
            out.append(seq[i] + " " + seq[i + 1])
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from("a b c".split()), min_size=0, max_size=12),
        min_size=1,
        max_size=5,
    )
)
def test_bpe_merge_round_equals_sequential_reference(spark, docs):
    """For ANY token sequences over a tiny alphabet (maximizing
    self-overlapping runs), one distributed merge round must equal the
    sequential greedy reference applied with the same argmax pair."""
    from collections import Counter

    from energy_data_pipeline_project_spark.operators.curation import (
        _bpe_merge_round,
    )

    rows = [
        (d, i + 1, t)
        for d, seq in enumerate(docs)
        for i, t in enumerate(seq)
    ]
    if not rows:
        return
    s = spark.createDataFrame(rows, "doc_id long, pos long, tok string")
    best, merged = _bpe_merge_round(s)
    # reference argmax: same (count desc, pair asc) tie-break
    pairs = Counter()
    for seq in docs:
        for x, y in zip(seq, seq[1:]):
            pairs[(x, y)] += 1
    if not pairs:
        return
    want_pair = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    b = best.collect()[0]
    assert (b["tok_a"], b["tok_b"]) == want_pair
    got = {}
    for r in merged.collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["tok"]))
    for d, seq in enumerate(docs):
        want = _bpe_reference_merge(seq, want_pair)
        have = [t for _, t in sorted(got.get(d, []))]
        assert have == want, (d, seq, want_pair)


# ---------------------------------------------------------------------------
# Banded prefix sum: ABC decomposition vs the naive global cumsum
# ---------------------------------------------------------------------------
@SETTINGS
@given(
    revs=st.lists(st.integers(0, 5_000_000), min_size=1, max_size=60),
)
def test_banded_prefix_sum_equals_global_cumsum(spark, revs):
    """The band decomposition in orders_abc_classification must
    reproduce the exact global running sum for ANY revenue multiset
    (including ties and values straddling band edges)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    band_w = 1_000_000
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(revs)], "k long, rev long"
    ).withColumn("band", F.expr(f"rev DIV {band_w}"))
    btot = df.groupBy("band").agg(F.sum("rev").alias("brev"))
    wb = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = btot.select(
        "band", F.coalesce(F.sum("brev").over(wb), F.lit(0)).alias("higher")
    )
    win = (
        Window.partitionBy("band")
        .orderBy(F.desc("rev"), F.asc("k"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    got = {
        r["k"]: r["cum"]
        for r in df.join(prefix, "band")
        .withColumn("cum", F.col("higher") + F.sum("rev").over(win))
        .collect()
    }
    order = sorted(range(len(revs)), key=lambda i: (-revs[i], i))
    cum = 0
    for i in order:
        cum += revs[i]
        assert got[i] == cum


# ---------------------------------------------------------------------------
# Banded running-MIN skyline vs brute-force dominance
# ---------------------------------------------------------------------------
@SETTINGS
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    ),
)
def test_banded_skyline_equals_bruteforce(spark, pts):
    """pareto_skyline must return exactly the non-dominated points for
    ANY point multiset — including duplicate points (both survive: no
    strict inequality), equal-cost ties, and band-edge straddlers. The
    band width (7) is chosen co-prime to the value range so bands are
    exercised unevenly."""
    from energy_data_pipeline_project_spark.operators.warehouse import (
        pareto_skyline,
    )

    df = spark.createDataFrame(
        [(i, c, s) for i, (c, s) in enumerate(pts)],
        "p_partkey long, cents long, p_size int",
    )
    got = {
        r["p_partkey"]
        for r in pareto_skyline(df, band_width=7).collect()
    }
    want = {
        i
        for i, (c, s) in enumerate(pts)
        if not any(
            qc <= c and qs <= s and (qc < c or qs < s)
            for qc, qs in pts
        )
    }
    assert got == want, (pts, got, want)


# ---------------------------------------------------------------------------
# Fixed-point z² algebra (events_ab_lift / events_anomaly_zscore)
# ---------------------------------------------------------------------------
# The r04 rewrites claim z² is RATIONAL in the integer inputs and that
# the emitted basis points equal floor(z² · 10⁴) exactly. Pin the
# algebra itself against Fraction arithmetic so a future refactor of
# either formula can't silently drift from the mathematical z².
from fractions import Fraction

from hypothesis import given
from hypothesis import strategies as st


@given(
    n_a=st.integers(min_value=1, max_value=2000),
    n_b=st.integers(min_value=1, max_value=2000),
    data=st.data(),
)
def test_ab_lift_zsq_matches_fraction_ground_truth(n_a, n_b, data):
    k_a = data.draw(st.integers(min_value=0, max_value=n_a))
    k_b = data.draw(st.integers(min_value=0, max_value=n_b))
    K, N = k_a + k_b, n_a + n_b
    den = n_a * n_b * K * (N - K)
    num = k_b * n_a - k_a * n_b
    if den == 0:
        return  # NULLIF branch: degenerate experiment
    # ground truth: z = (p_b - p_a) / sqrt(p(1-p)(1/n_a + 1/n_b))
    p_a, p_b, p = (
        Fraction(k_a, n_a),
        Fraction(k_b, n_b),
        Fraction(K, N),
    )
    z_sq = (p_b - p_a) ** 2 / (p * (1 - p) * (Fraction(1, n_a) + Fraction(1, n_b)))
    emitted = (num * num * N * 10000) // den
    assert emitted == (z_sq * 10000).__floor__()


@given(
    xs=st.lists(st.integers(min_value=0, max_value=10**6), min_size=2,
                max_size=30),
    x=st.integers(min_value=0, max_value=10**6),
)
def test_anomaly_zsq_matches_fraction_ground_truth(xs, x):
    n, s, sq = len(xs), sum(xs), sum(v * v for v in xs)
    den = n * sq - s * s
    if den <= 0:
        return  # zero-variance gate
    mean = Fraction(s, n)
    var = Fraction(sq, n) - mean * mean
    z_sq = (Fraction(x) - mean) ** 2 / var
    num = n * x - s
    emitted = (num * num * 10000) // den
    assert emitted == (z_sq * 10000).__floor__()


# ---------------------------------------------------------------------------
# PSI arithmetic (pure Python, no Spark)
# ---------------------------------------------------------------------------
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=16, max_size=16),
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=16, max_size=16),
)
def test_psi_nonnegative_and_zero_on_identity(c_old, c_new):
    from energy_data_pipeline_project_spark.operators.warehouse import (
        psi_from_counts,
    )

    assert psi_from_counts(c_old, c_old) == 0.0
    psi = psi_from_counts(c_old, c_new)
    assert psi >= 0.0  # (p-q) and ln(p/q) always share a sign
    # symmetry: PSI is symmetric in its arguments
    assert abs(psi - psi_from_counts(c_new, c_old)) < 1e-12


# ---------------------------------------------------------------------------
# SURVEY §5.2: day bucketing across DST boundaries under a non-UTC
# session TZ (r09 verdict #6). session.py pins UTC for determinism,
# but the reference's config declares Europe/Berlin and
# get_spark_session accepts overrides — the engine's epoch→timestamp→
# date chain (silver's extract_timeseries, gold's
# to_date) must bucket by the SESSION calendar, agreeing with
# zoneinfo and DuckDB's ICU timezone() on every instant, including
# the spring-forward day (92 quarter-hours, not 96) and the
# fall-back day (100). Fall-back walltimes repeat (02:30 CEST and
# 02:30 CET render identically), but both instants share a date, so
# bucketing is unambiguous even where the walltime is not.
# ---------------------------------------------------------------------------
_BERLIN = "Europe/Berlin"


def _berlin_days(spark, epochs):
    """(epoch → date) via silver's ``extract_timeseries`` and gold's
    ``to_date`` under a Berlin session TZ, restoring the session TZ
    afterwards. Each epoch rides in its own bronze row keyed by the
    epoch, so the key does not depend on the conversion under test."""
    import pyspark.sql.functions as F

    price = default_datasets()[1]
    bronze = spark.createDataFrame(
        [
            (str(e), "2025-01-01",
             json.dumps({"unix_seconds": [e], "price": [0.0]}))
            for e in set(epochs)
        ],
        schema=BRONZE_PRICE,
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", _BERLIN)
    try:
        rows = (
            extract_timeseries(bronze, price)
            .select("market", F.to_date("timestamp").alias("d"))
            .collect()
        )
        return {int(r["market"]): r["d"] for r in rows}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@SETTINGS
@given(
    st.lists(
        st.integers(min_value=0, max_value=4_000_000_000),
        min_size=1,
        max_size=50,
    )
)
def test_berlin_day_bucketing_matches_zoneinfo_and_duckdb(spark, epochs):
    from datetime import datetime
    from zoneinfo import ZoneInfo

    tz = ZoneInfo(_BERLIN)
    got = _berlin_days(spark, epochs)
    want = {e: datetime.fromtimestamp(e, tz=tz).date() for e in epochs}
    assert got == want
    duck = {
        e: d
        for e, d in duckdb.sql(
            "SELECT e, CAST(timezone('Europe/Berlin', to_timestamp(e))"
            " AS DATE) FROM (SELECT unnest($eps) AS e)",
            params={"eps": list(set(epochs))},
        ).fetchall()
    }
    assert {e: duck[e] for e in want} == want


def test_berlin_dst_days_have_92_and_100_quarter_hours(spark):
    """The two 2025 boundary days, exhaustively at quarter-hour grain:
    2025-03-30 (spring forward, 02:00→03:00 never exists) buckets 92
    quarter-hours; 2025-10-26 (fall back, 02:00-03:00 happens twice)
    buckets 100. A UTC-bucketing bug would put 96 in each."""
    import datetime as dt
    from collections import Counter
    from zoneinfo import ZoneInfo

    tz = ZoneInfo(_BERLIN)
    epochs = []
    for day in (dt.date(2025, 3, 30), dt.date(2025, 10, 26)):
        # cover the local day exactly: scan a UTC superset and keep
        # instants whose Berlin date IS the day
        start = int(
            dt.datetime(
                day.year, day.month, day.day, tzinfo=dt.timezone.utc
            ).timestamp()
        )
        epochs.extend(
            e
            for e in range(start - 8 * 3600, start + 32 * 3600, 900)
            if dt.datetime.fromtimestamp(e, tz=tz).date() == day
        )
    got = _berlin_days(spark, epochs)
    per_day = Counter(got.values())
    assert per_day[dt.date(2025, 3, 30)] == 92, per_day
    assert per_day[dt.date(2025, 10, 26)] == 100, per_day
    # and every instant individually agrees with zoneinfo
    for e in epochs:
        assert got[e] == dt.datetime.fromtimestamp(e, tz=tz).date()
