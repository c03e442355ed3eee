"""Unit tests for vector/text column functions: edge cases the fixture
queries don't reach (zero vectors, empty text, mismatched dims)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vector_db_setup_spark.functions.text import (
    char_ngrams,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_shingles,
)
from vector_db_setup_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
    vector_literal,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_l2_basics(spark):
    a, b = vector_literal([0.0, 3.0]), vector_literal([4.0, 0.0])
    assert _one(spark, l2_distance(a, b)) == 5.0
    assert _one(spark, l2_distance(a, a)) == 0.0
    assert _one(spark, l2_norm(b)) == 4.0


def test_dot_and_cosine(spark):
    a, b = vector_literal([1.0, 0.0]), vector_literal([0.0, 1.0])
    assert _one(spark, dot_product(a, b)) == 0.0
    assert _one(spark, cosine_similarity(a, a)) == pytest.approx(1.0)
    assert _one(spark, cosine_similarity(a, b)) == pytest.approx(0.0)


def test_cosine_zero_vector_is_null(spark):
    z = vector_literal([0.0, 0.0])
    a = vector_literal([1.0, 2.0])
    assert _one(spark, cosine_similarity(z, a)) is None


def test_mismatched_dims_zip_semantics(spark):
    # zip_with pads the shorter array with nulls → arithmetic on null
    # propagates null; enforce-dim-by-assertion is the documented policy
    # (SURVEY.md §7 hard parts), this pins the underlying behavior
    a, b = vector_literal([1.0, 2.0, 3.0]), vector_literal([1.0, 2.0])
    assert _one(spark, l2_distance(a, b)) is None


def test_token_count_and_shingles(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "")], "id long, t string"
    )
    out = df.select(
        token_count("t").alias("n"), F.size(word_shingles("t")).alias("s")
    ).collect()
    assert [(r["n"], r["s"]) for r in out] == [(4, 2), (2, 0), (1, 0)]


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta")],
        "id long, t string",
    )
    fps = [r["f"] for r in df.select(doc_fingerprint("t").alias("f")).collect()]
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog"),
            (2, "der hund und die katze ist"),
            (3, "xyzzy plugh"),
        ],
        "id long, t string",
    )
    got = [r["l"] for r in df.select(lang_id("t").alias("l")).collect()]
    assert got == ["en", "de", "und"]


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [(1, "word " * 60), (2, "a"), (3, "the of and to in is a")],
        "id long, t string",
    )
    scores = [r["q"] for r in df.select(quality_score("t").alias("q")).collect()]
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_char_ngrams(spark):
    df = spark.createDataFrame([(1, "abcde"), (2, "ab")], "id long, t string")
    out = df.select(char_ngrams("t", 4).alias("g")).collect()
    assert out[0]["g"] == ["abcd", "bcde"]
    assert out[1]["g"] == []


def test_asof_join_basics(spark):
    from vector_db_setup_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10.0, "L10"), (1, 20.0, "L20"), (2, 5.0, "L5")],
        "k long, t double, lv string",
    ).select("k", F.timestamp_seconds("t").alias("t"), "lv")
    right = spark.createDataFrame(
        [(1, 10.0, "R10"), (1, 15.0, "R15"), (1, 25.0, "R25"), (3, 1.0, "R1")],
        "k long, t double, rv string",
    ).select("k", F.timestamp_seconds("t").alias("t"), "rv")
    out = {
        (r["k"], r["lv"]): r["asof_rv"]
        for r in asof_join(left, right, "k", "t", "t", ["rv"]).collect()
    }
    # equal timestamp matches (inclusive); later rights ignored; no-match → null
    assert out == {(1, "L10"): "R10", (1, "L20"): "R15", (2, "L5"): None}


def test_range_join_window_edges(spark):
    from vector_db_setup_spark.operators.temporal import range_join

    left = spark.createDataFrame([(1, 100, 1000.0)], "k long, lid long, t double").select(
        "k", "lid", F.timestamp_seconds("t").alias("t")
    )
    right = spark.createDataFrame(
        [(1, 989.9), (1, 990.0), (1, 999.9), (1, 1000.0), (1, 500.0)],
        "k long, t double",
    ).select("k", F.timestamp_seconds("t").alias("rt"))
    got = range_join(left, right, "k", "t", "rt", 10).collect()
    # [t-10, t): 990.0 and 999.9 in; 989.9 below, 1000.0 (== t) excluded
    vals = sorted(r["rt"].timestamp() for r in got)
    assert vals == [990.0, 999.9]


def test_char_shingles_udtf_edges(spark):
    from vector_db_setup_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT * FROM char_shingles('abcd', 3)"
    ).collect()
    assert [(r["pos"], r["shingle"]) for r in rows] == [(1, "abc"), (2, "bcd")]
    assert spark.sql("SELECT * FROM char_shingles('ab', 3)").count() == 0
    assert spark.sql("SELECT * FROM char_shingles(NULL, 3)").count() == 0
    assert spark.sql("SELECT * FROM char_shingles('abc', 0)").count() == 0


def test_grouped_mad_matches_numpy(spark):
    import numpy as np

    from vector_db_setup_spark.operators.grouped import grouped_mad

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 9), ("b", 5)], "k string, v long"
    )
    got = {r["k"]: r["mad"] for r in grouped_mad(df, "k", "v").collect()}
    assert got["b"] == 0.0
    x = np.array([1, 2, 9], dtype=float)
    assert got["a"] == round(float(np.median(np.abs(x - np.median(x)))), 2)


def test_grouped_mad_nonstring_key(spark):
    from vector_db_setup_spark.operators.grouped import grouped_mad

    df = spark.createDataFrame(
        [(1, 1.0), (1, 3.0), (1, 5.0), (2, 10.0), (2, 10.0)],
        "uid long, v double",
    )
    got = {r["uid"]: r["mad"] for r in grouped_mad(df, "uid", "v").collect()}
    assert got == {1: 2.0, 2: 0.0}
    # key dtype survives the Arrow boundary
    assert dict(grouped_mad(df, "uid", "v").dtypes)["uid"] == "bigint"


def test_cms_python_reader_matches_jvm(spark):
    """functions/sketch.py re-implements the CountMinSketch V1 wire
    format and Spark's string-item bucket hashing so hot_tokens_cms can
    probe lazily on executors (no spark._jvm — Spark Connect-safe).
    Pin probe-for-probe equivalence against the JVM reader on a sketch
    with aligned/tail-byte/multibyte/empty items, present and absent."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import count_min_sketch

    from vector_db_setup_spark.functions.sketch import (
        read_count_min_sketch,
    )

    words = "data model xyzzy é中 ábç a x longer-token-here データ".split()
    rows = [(w,) for w in words * 7] + [("data",)] * 13
    df = spark.createDataFrame(rows, "w string")
    raw = bytes(
        df.agg(
            count_min_sketch(
                F.col("w"), F.lit(0.001), F.lit(0.99), F.lit(42)
            ).alias("sk")
        ).collect()[0]["sk"]
    )
    cms = read_count_min_sketch(raw)
    try:
        jvm = spark._jvm
        jcms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(raw)
        )
    except Exception:
        import pytest

        pytest.skip("no JVM gateway (Spark Connect) — nothing to cross-check")
    probes = words + ["absent", "", "zz", "qq123"]
    mism = [
        (t, cms.estimate_string(t), jcms.estimateCount(t))
        for t in probes
        if cms.estimate_string(t) != jcms.estimateCount(t)
    ]
    assert not mism, f"python/JVM CMS probe divergence: {mism}"
    assert cms.total_count == jcms.totalCount()
    assert cms.estimate_string("data") >= 20  # exact count, CMS law


def test_sql_vector_functions_equal_column_expressions(spark):
    """pgvector-parity SQL UDFs (functions/sqlfuncs.py) must agree
    per-row with the functions/vector.py Column expressions on real
    fixture embeddings — same math, two surfaces. Also pins the
    pgvector sign/offset conventions (negative_inner_product = -dot,
    cosine_distance = 1 - similarity)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_ORACLE
    from vector_db_setup_spark.functions.sqlfuncs import (
        register_sql_vector_functions,
    )
    from vector_db_setup_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_distance,
    )
    from vector_db_setup_spark.sources.registry import load_table

    register_sql_vector_functions(spark)
    e = load_table(spark, SF_ORACLE, "embeddings").limit(100)
    pairs = (
        e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        .join(
            e.select(
                F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
            ),
            F.col("ia") == F.col("ib") - 1,
        )
    )
    pairs.createOrReplaceTempView("vec_pairs")
    expr_rows = pairs.select(
        "ia",
        F.round(l2_distance("va", "vb"), 9).alias("l2"),
        F.round(dot_product("va", "vb"), 9).alias("dot"),
        F.round(1 - cosine_similarity("va", "vb"), 9).alias("cosd"),
    ).collect()
    sql_rows = spark.sql(
        """
        SELECT ia,
               round(l2_distance(CAST(va AS ARRAY<DOUBLE>),
                                 CAST(vb AS ARRAY<DOUBLE>)), 9) AS l2,
               round(inner_product(CAST(va AS ARRAY<DOUBLE>),
                                   CAST(vb AS ARRAY<DOUBLE>)), 9) AS dot,
               round(cosine_distance(CAST(va AS ARRAY<DOUBLE>),
                                     CAST(vb AS ARRAY<DOUBLE>)), 9) AS cosd
        FROM vec_pairs
        """
    ).collect()
    got = {r["ia"]: (r["l2"], r["dot"], r["cosd"]) for r in sql_rows}
    want = {r["ia"]: (r["l2"], r["dot"], r["cosd"]) for r in expr_rows}
    assert got == want
    # sign/offset conventions + metadata helpers
    one = spark.sql(
        "SELECT negative_inner_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS nip, "
        "vector_dims(array(1.0D, 2.0D, 3.0D)) AS nd, "
        "vector_norm(array(3.0D, 4.0D)) AS nrm"
    ).collect()[0]
    assert one["nip"] == -11.0 and one["nd"] == 3 and one["nrm"] == 5.0


def test_sql_vector_knn_plan_is_codegen_topk(spark):
    """The SQL-UDF body must INLINE: the SQL-text KNN plans to the same
    TakeOrderedAndProject + broadcast join shape as the DataFrame
    flagship, with no Python/Arrow eval node."""
    from tests.conftest import SF_ORACLE
    from vector_db_setup_spark import queries as q

    df = q.queries()["sql_vector_knn"](spark, SF_ORACLE)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_vector_literal_round_trips_bit_identically(spark):
    """The one literal form carries every double unchanged: 768 random
    values, the signed zero, subnormal, boundary and non-round values,
    and NaN/±inf inside the same query vector."""
    import random
    import struct

    rng = random.Random(7)
    vals = [rng.gauss(0.0, 1.0) for _ in range(768)]
    vals += [
        -0.0, 5e-324, 2.2250738585072014e-308, 1e308, 1 / 3,
        float("nan"), float("inf"), float("-inf"),
    ]
    got = _one(spark, vector_literal(vals))
    assert len(got) == len(vals)
    assert [struct.pack("<d", x) for x in got] == [
        struct.pack("<d", x) for x in vals
    ]


def test_knn_topk_plan_folds_the_query_literal(spark):
    """At 768-d the query's from_json is folded to a literal before
    execution: no per-row JSON parse reaches the optimized plan."""
    import random

    from vector_db_setup_spark.operators.knn import knn_topk

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.random() for _ in range(768)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    q = [rng.random() for _ in range(768)]
    df = knn_topk(emb, "embedding", q, k=2, id_col="vec_id")
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "from_json" not in plan and "jsontostructs" not in plan
    assert len(df.collect()) == 2
