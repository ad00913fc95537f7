"""Vector column expressions over ``array<float>`` embeddings.

All built on ``zip_with``/``aggregate`` higher-order functions —
JVM-side, codegen'd, no Python. Elements are cast to DOUBLE before
any arithmetic and accumulated with a sequential left fold so results
are bit-reproducible (and replayable by the DuckDB oracle, which also
folds sequentially).

Every helper takes SQL TEXT (a column name or an ``array(...)``
literal) and builds the whole fold as ONE parsed ``F.expr``: the
Column-API lambda form of the same tree costs ~20 ms of py4j round
trips PER lambda to construct (r18 measured ``lsh_bucket`` alone at
0.24 s of driver time per plan build, ~40% of sim_topk_lsh's bench
cost). Results are pinned against a plain-Python sequential fold by
tests/test_similarity.py::test_vector_helpers_match_sequential_fold.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d_sql(v: str) -> str:
    return f"transform({v}, v_ -> CAST(v_ AS DOUBLE))"


def dot_sql(a: str, b: str) -> str:
    """The :func:`dot` fold as SQL text, for embedding into larger
    single-parse expressions."""
    return (
        f"aggregate(zip_with({_d_sql(a)}, {_d_sql(b)}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.expr(dot_sql(a, b))


def l2_norm_sql(a: str) -> str:
    """The :func:`l2_norm` fold as SQL text."""
    return f"SQRT(aggregate({_d_sql(a)}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + (x * x)))"


def l2_norm(a: str) -> Column:
    return F.expr(l2_norm_sql(a))


def cosine_similarity(a: str, b: str) -> Column:
    """dot(a,b) / (||a||·||b||), deterministic double arithmetic."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_from_norms(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    """``cosine_similarity`` with the norms precomputed.

    Scoring joins evaluate cosine once per PAIR; the norm of each
    vector is pair-invariant, so folding it per pair triples the
    higher-order-function work (dot + 2 norms ≈ 3×dim element ops
    per pair instead of 1×dim). Callers compute ``l2_norm`` once per
    row before the join and pass the column names here. The
    arithmetic is the identical expression tree (sqrt of a sequential
    fold, one divide), so results are bit-equal to
    ``cosine_similarity``."""
    return dot(a, b) / (F.col(norm_a) * F.col(norm_b))
