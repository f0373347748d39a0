"""Vector math over ``array<float>`` embedding columns — JVM-side.

Dot products / cosine similarity are expressed with ``zip_with`` +
``aggregate`` (Catalyst higher-order functions): whole-stage-codegen'd,
no Python in the loop. The numpy batch path for brute-force top-k lives
in ``operators/similarity.py`` as an Arrow-vectorized alternative.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


# Valid-vector predicate, one spelling per engine: the embeddings
# contract is non-NULL dim-64 arrays of FINITE floats, but real 100 TB
# ingest leaks NULL/ragged rows and NaN/±Inf elements, and those KILL
# whole jobs downstream (DuckDB list_dot_product rejects
# dim-mismatch/NULL; numpy stacks ragged batches as object arrays; the
# 1e4 integer-grid quantization casts NaN/Inf to BIGINT, which aborts
# under Spark ANSI and errors in DuckDB — one non-finite element
# crashed or diverged 13 vector queries). Malformed vectors are excluded at the source of each
# vector operator — identically in the oracle — so one corrupt row
# degrades to "not indexed", never to a dead job.
EMB_DIM = 64
# The bad-ELEMENT lambda body, shared by both engines' spellings and
# by every inline fold guard in hof/multimodal/embedding queries:
# NULL, NaN, or ±Inf — any of them makes the vector unmeasurable.
BAD_ELEM_LAMBDA = (
    "x -> x IS NULL OR isnan(CAST(x AS DOUBLE))"
    " OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE)"
)
VALID_VEC_SPARK = (
    f"(embedding IS NOT NULL AND size(embedding) = {EMB_DIM}"
    f" AND NOT exists(embedding, {BAD_ELEM_LAMBDA}))"
)
VALID_VEC_DUCK = (
    f"(embedding IS NOT NULL AND len(embedding) = {EMB_DIM}"
    f" AND len(list_filter(embedding, {BAD_ELEM_LAMBDA})) = 0)"
)


def as_double(col: str) -> Column:
    """Cast array<float> → array<double> so accumulation is f64."""
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
    )


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- DuckDB twins: the IDENTICAL IEEE expression tree as the Spark
# fold above, op for op ---------------------------------------------
#
# ``list_cosine_similarity`` is a black box: its accumulation order
# and sqrt placement (sqrt(na2*nb2) vs sqrt(na2)*sqrt(nb2)) are
# unspecified, so its last ulps legitimately differ from the Spark
# fold — which made every ranking on a raw float cosine a documented
# residual risk (near-tied neighbors could order differently; the r07
# advisor flagged the IVF cell assignment specifically). These twins
# remove the whole class: ``list_reduce`` with a prepended 0.0
# replays Spark's ``aggregate(…, 0.0D, (acc, v) -> acc + v)``
# left-to-right, every product/cast/sqrt/divide appears in the same
# position, and two correctly-rounded IEEE programs over the same
# inputs are bit-identical — so rankings on the raw value can never
# split. NOTE: bit-identical inputs do NOT extend that guarantee
# through ROUND(x, n) — Spark rounds the shortest decimal repr
# HALF_UP while DuckDB rounds the binary value, so the SAME double
# can round differently at an exact decimal half (0.00015 → 0.0002
# vs 0.0001, r07, measured). Consumers therefore emit the raw
# bit-identical cosine; identical doubles canonicalize identically
# with no rounding step to diverge in.


def dot_duck(a: str, b: str) -> str:
    """DuckDB SQL: same fold as :func:`dot` (operands must already be
    DOUBLE[]; the float→double cast is exact, so casting the column
    once in a CTE matches Spark's per-element CAST)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i] * {b}[i]))), (acc, v) -> acc + v)"
    )


def norm_duck(a: str) -> str:
    """DuckDB SQL: same fold as :func:`norm` over a DOUBLE[] column."""
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, x -> x * x)), (acc, x) -> acc + x))"
    )


def cosine_duck(a: str, b: str) -> str:
    """DuckDB SQL twin of :func:`cosine` — bit-identical result."""
    return f"({dot_duck(a, b)} / ({norm_duck(a)} * {norm_duck(b)}))"
