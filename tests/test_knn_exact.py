"""Bit-exactness contract of ``knn_join_exact`` — the Arrow kernel that
must reproduce the expression kNN join (``knn_join``) to the last ulp.

The kernel exists so oracle-pinned evaluation queries (quantized recall,
hard-negative mining) can leave the interpreted HOF path without losing
the cross-engine hash-match: its per-dimension float64 accumulation loop
replays the ``F.aggregate`` left fold op-for-op. These tests pin that
claim as FULL-FRAME equality including distance bits, not rank parity.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
    knn_join,
    knn_join_exact,
)

from .conftest import DEGENERATE_KINDS, SF_SMOKE, degenerate_frame

K = 7


def _queries(spark, sf_dir, lo=16, hi=48, with_label=False):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = (
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .orderBy("vec_id")
        .collect()
    )
    ids = [int(r.vec_id) for r in rows]
    mat = [[float(x) for x in r.embedding] for r in rows]
    labels = [int(r.label) for r in rows] if with_label else None
    return emb, ids, mat, labels


def _frame(df):
    return {
        (r.query_id, r["rank"]): (r.vec_id, r.dist) for r in df.collect()
    }


def test_knn_join_exact_bit_parity(spark, sf_dir):
    """Same rows, same ranks, same dist BITS as the expression join."""
    emb, ids, mat, _ = _queries(spark, sf_dir)
    got = _frame(
        knn_join_exact(emb, ids, mat, k=K, exclude_self=True)
    )
    qdf = spark.createDataFrame(
        list(zip(ids, mat)), "query_id long, embedding array<double>"
    )
    want = _frame(
        knn_join(emb, qdf, k=K, metric="l2", exclude_self=True).select(
            "query_id", "vec_id", "dist", "rank"
        )
    )
    assert set(got) == set(want)
    for key, (vid, dist) in want.items():
        gvid, gdist = got[key]
        assert gvid == vid, (key, gvid, vid)
        # bit equality, not approx: the whole point of the kernel
        assert gdist == dist, (key, gdist.hex(), dist.hex())


def test_knn_join_exact_label_mask_matches_filtered_expression(spark):
    """Hard-negative semantics: masking the query's own label equals the
    expression join filtered on label inequality, bit-for-bit."""
    emb, ids, mat, labels = _queries(spark, SF_SMOKE, with_label=True)
    got = _frame(
        knn_join_exact(
            emb, ids, mat, k=K, query_labels=labels, label_col="label"
        )
    )
    qdf = spark.createDataFrame(
        list(zip(ids, mat, labels)),
        "query_id long, embedding array<double>, qlabel int",
    )
    q = qdf.select("query_id", F.col("embedding").alias("__qvec"), "qlabel")
    from the_build_project_image_retrieval_with_vector_databases_spark.functions.vector import (
        l2_dist,
    )

    joined = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .withColumn("dist", l2_dist(F.col("embedding"), F.col("__qvec")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    want = _frame(
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", "vec_id", "dist", "rank")
    )
    assert got == want
    # the mask really bites: no result row shares the query's label
    bylab = dict(zip(ids, labels))
    out = knn_join_exact(
        emb, ids, mat, k=K, query_labels=labels, label_col="label"
    ).collect()
    assert all(r.label != bylab[r.query_id] for r in out)


def test_knn_join_exact_recon_matches_expression_twin(spark):
    """The recon callback preserves exactness: halving every component
    (an exact float64 op) in the kernel equals the expression join over
    a pre-halved corpus column."""
    emb, ids, mat, _ = _queries(spark, SF_SMOKE, lo=16, hi=24)
    got = _frame(
        knn_join_exact(
            emb, ids, mat, k=K, exclude_self=True, recon=lambda x: x * 0.5
        )
    )
    halved = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda v: v.cast("double") * F.lit(0.5)
        ).alias("embedding"),
    )
    qdf = spark.createDataFrame(
        list(zip(ids, mat)), "query_id long, embedding array<double>"
    )
    want = _frame(
        knn_join(halved, qdf, k=K, metric="l2", exclude_self=True).select(
            "query_id", "vec_id", "dist", "rank"
        )
    )
    assert got == want


def test_knn_join_exact_plan_no_corpus_shuffle(spark):
    """Plan contract (same as the BLAS kernel): the corpus scan feeds
    mapInPandas directly; the only hash exchange is the candidate
    window; nothing plans a cartesian product."""
    emb, ids, mat, _ = _queries(spark, SF_SMOKE, lo=16, hi=20)
    df = knn_join_exact(emb, ids, mat, k=K, exclude_self=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_exact_validation():
    with pytest.raises(ValueError, match="query_mat"):
        knn_join_exact(None, [], np.zeros((0, 4)), k=3)
    with pytest.raises(ValueError, match="label_col"):
        knn_join_exact(None, [1], [[0.0]], query_labels=[2])


@pytest.mark.parametrize("kind", DEGENERATE_KINDS)
def test_knn_join_exact_degenerate_corpora_bit_parity(spark, kind):
    """Tie floods, exact duplicate pairs and zero vectors: with the
    label mask, self exclusion and a recon hook all on, the kernel's
    frame (ids, ranks, dist bits) equals the expression twin's — every
    tie resolves by id exactly as the (dist, id) window orders it."""
    from pyspark.sql import Window

    from the_build_project_image_retrieval_with_vector_databases_spark.functions.vector import (
        l2_dist,
    )

    mat, df = degenerate_frame(spark, kind)
    ids = [0, 1, 2, 5]
    qm = [[float(x) for x in mat[i]] for i in ids]
    labels = [i % 2 for i in ids]
    got = _frame(
        knn_join_exact(
            df, ids, qm, k=K, exclude_self=True, query_labels=labels,
            label_col="label", recon=lambda x: x * 0.5,
        )
    )
    halved = df.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda v: v * F.lit(0.5)).alias("embedding"),
    )
    q = spark.createDataFrame(
        list(zip(ids, qm, labels)),
        "query_id long, __qvec array<double>, qlabel int",
    )
    joined = (
        halved.crossJoin(F.broadcast(q))
        .filter(
            (F.col("label") != F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .withColumn("dist", l2_dist(F.col("embedding"), F.col("__qvec")))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    want = _frame(
        joined.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= K
        )
    )
    assert got == want
