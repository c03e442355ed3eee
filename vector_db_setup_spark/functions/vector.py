"""Vector distance/similarity column expressions.

The reference's single vector operator is pgvector's L2 ``<->``
(fever_multi_agent.py:71, test_connection.py:93), evaluated per row in C
inside Postgres. Here each metric is a *native* Spark column expression
(``zip_with`` + ``aggregate``): it stays inside whole-stage codegen, needs
no Python round trip, and Catalyst can pipeline it with the surrounding
scan/filter/top-k. That keeps the flagship KNN completely JVM-side.

All math is done in double precision regardless of the stored element
type (fixtures store float32) so results are reproducible against the
DuckDB oracle (`list_distance` on DOUBLE[]).

At 100 TB: these expressions scale linearly with rows × dim and never
shuffle. They are the single-query KNN form at every width (768-d
included); batch search over many queries takes the GEMM kernels in
operators/similarity.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def vector_literal(vec) -> Column:
    """Python list → array<double> literal column.

    Replaces the reference's client-side pgvector adapter
    (``register_vector`` + ``%s::vector`` cast, fever_multi_agent.py:33,71).

    Built as ONE string literal parsed by ``from_json``: the analyser
    sees a single leaf, and ConstantFolding turns it into the same
    ``array<double>`` literal before optimisation ends, so no
    ``from_json`` reaches the executed plan. The parsed
    ``array(v1D, …)`` form it replaces had one child per element, and
    analysing 768 of them dominated planning a single search: one probe
    (4 cores) built a 768-d ``knn_topk`` plan over 2,000 rows in
    ≈185 ms with it and ≈111 ms with one string. ``json.dumps`` writes
    each double as its shortest round-tripping repr and non-finite
    values as ``NaN``/``Infinity``/``-Infinity``, which ``from_json``
    reads, so every value — NaN and ±inf included — arrives
    bit-identical through the one path. ``matrix_literal`` is the
    nested form.
    """
    return F.from_json(
        F.lit(json.dumps([float(x) for x in vec])), "array<double>"
    )


def matrix_literal(rows) -> Column:
    """Rows of numbers → array<array<double>> literal column: the
    nested `vector_literal`, for centroid sets and lookup tables."""
    return F.from_json(
        F.lit(json.dumps([[float(x) for x in r] for r in rows])),
        "array<array<double>>",
    )


def l2_distance_sq(a: Column | str, b: Column | str) -> Column:
    """Squared Euclidean distance — same ordering as L2, one sqrt cheaper.

    Use for top-k ranking where only the order matters.
    """
    a, b = _as_double(a), _as_double(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Exact Euclidean distance — pgvector ``<->`` semantics
    (reference: fever_multi_agent.py:71)."""
    return F.sqrt(l2_distance_sq(a, b))


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Inner product — pgvector ``<#>`` is the negated form."""
    a, b = _as_double(a), _as_double(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a, b) = a·b / (|a||b|). NULL-safe on zero vectors (returns NULL
    rather than dividing by zero, matching SQL division semantics)."""
    a, b = _as_double(a), _as_double(b)
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot_product(a, b) / denom)


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """pgvector ``<=>`` semantics: 1 - cosine similarity."""
    return F.lit(1.0) - cosine_similarity(a, b)


def random_vector(dim: int, seed: int = 42) -> Column:
    """ONE deterministic pseudo-random query vector as a literal
    (reference: test_connection.py:86 draws a single np.random.rand(768)
    and ranks all rows against it).

    Drawn driver-side with a seeded numpy RNG and shipped as a literal
    array — the previous per-row ``F.rand`` form drew a DIFFERENT
    vector for every row (F.rand is per-row and per-partition-seeded),
    which made "nearest to the random query" meaningless and
    partitioning-dependent.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    return vector_literal(rng.random(dim).tolist())


def assert_dim(df, vec_col: str, dim: int) -> None:
    """Enforce fixed vector dimensionality by assertion (SURVEY.md §7:
    Spark has no fixed-size array type — the check constraint lives at
    ingest/validation time, not in the type system). One aggregate scan;
    raises ValueError naming the offending cardinalities."""
    bad = (
        df.select(F.size(F.col(vec_col)).alias("d"))
        .filter(F.col("d") != dim)
        .groupBy("d")
        .count()
        .collect()
    )
    if bad:
        detail = ", ".join(f"dim {r['d']}: {r['count']} rows" for r in bad)
        raise ValueError(
            f"column {vec_col!r} must be {dim}-dimensional; found {detail}"
        )
