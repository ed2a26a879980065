"""Property tests for the approximate-search operators (SURVEY §5.2):
recall vs the exact operator, assignment correctness vs NumPy, and the
two-phase top-k's exact equivalence to the window-rank pattern."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
    assign_centroids,
    brp_approx_topk,
    brp_lsh_fit,
    brp_similarity_join,
    hyperplanes,
    ivf_search,
    lsh_bucket,
    lsh_candidates,
    train_centroids,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
    knn_join,
    knn_join_two_phase,
    knn_single,
    radius_join,
)
from .conftest import DEGENERATE_KINDS, SF_SMOKE, degenerate_frame


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat


def test_assign_centroids_matches_numpy(emb, emb_np):
    ids, mat = emb_np
    centroids = [list(map(float, mat[i])) for i in range(8)]
    got = {
        r.vec_id: r.centroid
        for r in assign_centroids(emb, centroids).select("vec_id", "centroid").collect()
    }
    cents = np.asarray(centroids)
    d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want = d.argmin(axis=1)  # first-min ties, same as array_position
    assert [got[i] for i in ids] == list(want)


def test_ivf_full_probe_equals_exact(spark, emb, emb_np):
    """nprobe == k_centroids ⇒ IVF degenerates to exact search."""
    ids, mat = emb_np
    centroids = [list(map(float, mat[i])) for i in range(8)]
    q = list(map(float, mat[0]))
    qlit = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    exact = knn_single(emb.filter(F.col("vec_id") != 0), qlit, k=5)
    approx = ivf_search(
        assign_centroids(emb, centroids).filter(F.col("vec_id") != 0),
        centroids, q, k=5, nprobe=8,
    )
    assert [r.vec_id for r in exact.collect()] == [
        r.vec_id for r in approx.collect()
    ]


def test_ivf_partial_probe_recall(spark, emb, emb_np):
    """Recall@10 of nprobe=4/16 IVF vs exact — random unit vectors are a
    worst case for IVF, so the bar is deliberately modest (> 0.3) and the
    real assertion is structural: results come only from probed cells."""
    ids, mat = emb_np
    centroids = train_centroids(emb, k=16, seed=42)
    q = list(map(float, mat[0]))
    qlit = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    corpus = assign_centroids(emb, centroids).filter(F.col("vec_id") != 0).cache()
    exact_ids = {r.vec_id for r in knn_single(corpus, qlit, k=10).collect()}
    got = ivf_search(corpus, centroids, q, k=10, nprobe=4).collect()
    cents = np.asarray(centroids)
    probe = set(
        np.argsort(((cents - np.asarray(q)) ** 2).sum(axis=1), kind="stable")[:4]
    )
    assert {r.centroid for r in got} <= probe
    assert len({r.vec_id for r in got} & exact_ids) / 10 > 0.3


def test_lsh_bucket_matches_numpy(emb, emb_np):
    ids, mat = emb_np
    planes = hyperplanes(mat.shape[1], 8, seed=7)
    h = np.asarray(planes)
    want = ((mat @ h.T) > 0).astype(np.int64) @ (1 << np.arange(8))
    got = {
        r.vec_id: r.bucket
        for r in lsh_bucket(emb, planes).select("vec_id", "bucket").collect()
    }
    assert [got[i] for i in ids] == list(want)


def test_planes_for_corpus_sizing():
    """Bucket count must scale with the corpus: P = ceil(log2(n/occ)),
    capped so the integer bucket key stays in a signed long. Expected
    occupancy n/2^P stays within [occ/2, occ] — the candidate join's
    per-bucket work is then constant in n."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        planes_for_corpus,
    )

    for n in (100, 6_400, 640_000, 10**9):
        planes = planes_for_corpus(n, dim=64, target_occupancy=16)
        p = len(planes)
        assert n / 2**p <= 16 and (p == 1 or n / 2 ** (p - 1) > 16)
        assert all(len(h) == 64 for h in planes)
    # cap: 2^62 buckets max (signed-long bucket key)
    assert len(planes_for_corpus(10**30, dim=8)) == 62
    # determinism: same seed → same planes
    assert planes_for_corpus(640_000, 64) == planes_for_corpus(640_000, 64)


def test_lsh_candidates_are_cobucketed_pairs(emb, emb_np):
    ids, mat = emb_np
    planes = hyperplanes(mat.shape[1], 6, seed=7)
    h = np.asarray(planes)
    bucket = ((mat @ h.T) > 0).astype(np.int64) @ (1 << np.arange(6))
    want = {
        (int(a), int(b))
        for i, a in enumerate(ids)
        for j, b in enumerate(ids)
        if a < b and bucket[i] == bucket[j]
    }
    got = {
        (r.left_id, r.right_id)
        for r in lsh_candidates(emb, planes).collect()
    }
    assert got == want


def test_brp_lsh_topk_recall(spark, emb, emb_np):
    """SURVEY §7.3's MLlib ``BucketedRandomProjectionLSH`` path: recall@10
    of ``approxNearestNeighbors`` vs the exact operator must be ≥ 0.9
    (seeded model, deterministic)."""
    ids, mat = emb_np
    q = list(map(float, mat[0]))
    corpus = emb.filter(F.col("vec_id") != 0)
    qlit = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    exact = {r.vec_id for r in knn_single(corpus, qlit, k=10).collect()}
    model, feat = brp_lsh_fit(corpus, bucket_length=0.5, num_hash_tables=4, seed=42)
    got = {r.vec_id for r in brp_approx_topk(model, feat, q, k=10).collect()}
    assert len(got & exact) / 10 >= 0.9


def test_brp_similarity_join_pairs(spark, emb, emb_np):
    """``approxSimilarityJoin`` returns only true pairs (dist ≤ τ exact on
    NumPy) and finds ≥ 90% of the brute-force radius pairs."""
    ids, mat = emb_np
    sub = emb.filter(F.col("vec_id") < 60)
    model, feat = brp_lsh_fit(sub, bucket_length=2.0, num_hash_tables=8, seed=42)
    tau = 1.25
    out = brp_similarity_join(model, feat, feat, tau)
    got = {
        (min(a, b), max(a, b))
        for a, b in (
            (r.datasetA.vec_id, r.datasetB.vec_id) for r in out.collect()
        )
        if a != b
    }
    m = mat[:60]
    d = np.sqrt(((m[:, None, :] - m[None, :, :]) ** 2).sum(axis=2))
    want = {
        (int(i), int(j))
        for i in range(60)
        for j in range(i + 1, 60)
        if d[i, j] <= tau
    }
    assert got <= want
    assert want and len(got & want) / len(want) >= 0.9


def test_knn_join_matches_numpy_reference(spark, emb, emb_np):
    """knn_join (and its two-phase alias) against an independent NumPy
    brute-force reference — pins the actual top-k semantics (L2 order,
    self-exclusion, id tie-break), not one Spark plan vs another."""
    ids, mat = emb_np
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in knn_join_two_phase(emb, queries, k=4).collect()
    }
    id_to_row = {int(v): i for i, v in enumerate(ids)}
    for q in range(16):
        d = np.sqrt(((mat - mat[id_to_row[q]]) ** 2).sum(axis=1))
        order = sorted(
            (float(d[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != q
        )
        want = [vid for _, vid in order[:4]]
        assert [got[(q, r)] for r in range(1, 5)] == want


def test_l2_rank_equals_cosine_rank_on_unit_vectors(emb):
    """SURVEY §7.4.4: on unit vectors ‖a−b‖² = 2−2cos ⇒ identical ranking."""
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    by_l2 = knn_join(emb, queries, k=5, metric="l2").select(
        "query_id", "vec_id", "rank"
    )
    by_cos = knn_join(emb, queries, k=5, metric="cosine").select(
        "query_id", "vec_id", "rank"
    )
    assert sorted(map(tuple, by_l2.collect())) == sorted(map(tuple, by_cos.collect()))


def test_radius_join_lsh_blocking_semantics(emb, emb_np):
    """Blocked radius join ≡ brute force restricted to band-agreeing
    pairs: (a) blocked ⊆ brute-force (no false positives — the exact
    verify runs on candidates), (b) every brute-force pair whose vectors
    agree on at least one whole sign-bit band IS returned (banding loses
    only cross-bucket pairs), (c) useful recall on this data."""
    ids, mat = emb_np
    planes = hyperplanes(mat.shape[1], 8, seed=42)
    block = emb.filter(F.col("vec_id") < 200)
    brute = {
        (r.left_id, r.right_id): r.dist
        for r in radius_join(block, block, radius=0.25, metric="cosine").collect()
    }
    blocked = {
        (r.left_id, r.right_id): r.dist
        for r in radius_join(
            block, block, radius=0.25, metric="cosine",
            blocking="lsh", planes=planes, n_bands=2,
        ).collect()
    }
    assert set(blocked) <= set(brute)
    for pair, d in blocked.items():
        assert abs(brute[pair] - d) < 1e-9
    # numpy band buckets: planes [0:4) and [4:8)
    id_to_row = {int(v): i for i, v in enumerate(ids)}
    pl = np.asarray(planes)
    bits = (mat @ pl.T) > 0  # (N, 8)
    weights = 2 ** np.arange(4)
    b0 = bits[:, :4] @ weights
    b1 = bits[:, 4:] @ weights
    expected = {
        p
        for p in brute
        if b0[id_to_row[p[0]]] == b0[id_to_row[p[1]]]
        or b1[id_to_row[p[0]]] == b1[id_to_row[p[1]]]
    }
    assert set(blocked) == expected
    assert len(blocked) > 0  # the contract is non-vacuous on this data


def test_content_addressed_layout_reuse_and_invalidation(spark, tmp_path):
    """Round-3 contract for the materialized index layouts: the path is
    content-addressed by (kind, source dir, source fingerprint), so a
    fresh process (simulated by clearing the in-process memo) REUSES the
    built layout without rewriting it, and regenerating the source table
    changes the address (stale layouts can never be served)."""
    import os
    import shutil as _sh
    import time

    from the_build_project_image_retrieval_with_vector_databases_spark import (
        queries_ann as qa,
    )

    src = tmp_path / "sfx"
    src.mkdir()
    fixture = f"{SF_SMOKE}/embeddings.parquet"
    if os.path.isdir(fixture):
        _sh.copytree(fixture, src / "embeddings.parquet")
    else:
        _sh.copy(fixture, src / "embeddings.parquet")
    sf_dir = str(src)

    path1, centroids1 = qa._ivf_layout(spark, sf_dir)
    assert qa._layout_complete(path1)
    stamp = os.path.getmtime(os.path.join(path1, "_SUCCESS"))

    # "second process": drop the memo; the build must be skipped entirely
    qa._LAYOUTS.clear()
    t0 = time.time()
    path2, centroids2 = qa._ivf_layout(spark, sf_dir)
    reuse_s = time.time() - t0
    assert path2 == path1 and centroids2 == centroids1
    assert os.path.getmtime(os.path.join(path1, "_SUCCESS")) == stamp  # no rewrite
    assert reuse_s < 2.0  # collect(16 rows) + stat, not a table rewrite

    # fixture regenerated in place -> fingerprint changes -> new address,
    # and the superseded generation is pruned after the rebuild
    tbl = src / "embeddings.parquet"
    part = (
        next(p for p in tbl.iterdir() if p.suffix == ".parquet")
        if tbl.is_dir()
        else tbl
    )
    os.utime(part, ns=(time.time_ns(), time.time_ns()))
    qa._LAYOUTS.clear()
    path3, _ = qa._ivf_layout(spark, sf_dir)
    assert path3 != path1
    assert qa._layout_complete(path3) and not os.path.exists(path1)


def test_ivf_recall_monotone_in_nprobe_on_benched_layout(spark, emb, emb_np):
    """The knob a real user turns: recall@10 vs exact search as nprobe
    sweeps 1→16 over the SAME materialized partitioned layout the bench
    probes. Recall must be monotone non-decreasing and exactly 1.0 at
    nprobe = n_centroids (full probe ≡ flat search)."""
    from the_build_project_image_retrieval_with_vector_databases_spark import (
        queries_ann as qa,
    )

    ids, mat = emb_np
    path, centroids = qa._ivf_layout(spark, SF_SMOKE)
    layout = spark.read.parquet(path).filter(F.col("vec_id") != 0)
    q = [float(x) for x in mat[0]]
    qlit = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    exact = {r.vec_id for r in knn_single(emb.filter(F.col("vec_id") != 0), qlit, k=10).collect()}
    recalls = []
    for nprobe in (1, 2, 4, 8, 16):
        got = {
            r.vec_id
            for r in ivf_search(layout, centroids, q, k=10, nprobe=nprobe).collect()
        }
        recalls.append(len(got & exact) / 10)
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0, f"full probe must equal exact: {recalls}"
    assert recalls[0] > 0.0  # the nearest cell carries at least one true hit


# ---------------------------------------------------------------------------
# Unified search() facade
# ---------------------------------------------------------------------------


def test_search_facade_tiers_consistent(emb, emb_np):
    """All four tiers through the ONE facade: same output contract
    (corpus cols + dist, best-first, k rows), and every approximate
    tier's top-k overlaps heavily with the exact flat answer on this
    easy fixture."""
    from the_build_project_image_retrieval_with_vector_databases_spark.search import search

    ids, mat = emb_np
    qvec = [float(x) for x in mat[ids.tolist().index(0)]]
    flat = search(emb, qvec, k=10, index="flat", exclude_id=0).collect()
    assert len(flat) == 10 and "dist" in flat[0].asDict()
    assert [r.dist for r in flat] == sorted(r.dist for r in flat)
    exact_ids = {r.vec_id for r in flat}

    for kind, kwargs in [
        ("ivf", dict(nprobe=16)),          # full probe ⇒ exact
        ("pq", dict(rerank=5)),            # ADC shortlist + exact re-rank
        ("sq", {}),
    ]:
        got = search(emb, qvec, k=10, index=kind, exclude_id=0, **kwargs)
        rows = got.collect()
        assert len(rows) == 10, kind
        assert "dist" in rows[0].asDict(), kind
        overlap = len({r.vec_id for r in rows} & exact_ids)
        assert overlap >= 7, f"{kind}: only {overlap}/10 overlap with exact"


def test_search_facade_flat_metrics(emb, emb_np):
    """metric= is explicit on the facade: cosine ranks descending,
    l2 ascending, and the two agree on unit-norm vectors."""
    from the_build_project_image_retrieval_with_vector_databases_spark.search import search

    ids, mat = emb_np
    qvec = [float(x) for x in mat[ids.tolist().index(0)]]
    l2 = [r.vec_id for r in search(emb, qvec, k=5, index="flat",
                                   metric="l2", exclude_id=0).collect()]
    cos = [r.vec_id for r in search(emb, qvec, k=5, index="flat",
                                    metric="cosine", exclude_id=0).collect()]
    assert l2 == cos  # unit vectors: argmin L2 == argmax cosine


def test_search_facade_rejects_bad_args(emb):
    from the_build_project_image_retrieval_with_vector_databases_spark.search import search

    with pytest.raises(ValueError, match="unknown index"):
        search(emb, [0.0] * 64, index="hnsw")
    with pytest.raises(ValueError, match="L2-metric"):
        search(emb, [0.0] * 64, index="ivf", metric="cosine")


def test_search_facade_pq_rerank_converges_to_exact(emb, emb_np):
    """With a large enough ADC overfetch the PQ rerank tier must return
    EXACTLY the flat answer (the shortlist certainly contains the true
    top-k, and the re-rank scores with full floats)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.search import search

    ids, mat = emb_np
    qvec = [float(x) for x in mat[ids.tolist().index(0)]]
    flat = [(r.vec_id, round(r.dist, 6))
            for r in search(emb, qvec, k=5, index="flat", exclude_id=0).collect()]
    pq = [(r.vec_id, round(r.dist, 6))
          for r in search(emb, qvec, k=5, index="pq", rerank=100,
                          exclude_id=0).collect()]
    assert pq == flat


def test_k_for_corpus_sizing():
    """k = ceil(n/occ): occupancy stays within (occ·(k-1)/k, occ] so the
    cluster-blocked O(m²) verify work per cluster is constant in n."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        k_for_corpus,
    )

    for n in (10, 2_000, 640_000, 10**9):
        k = k_for_corpus(n, target_occupancy=256)
        assert n / k <= 256
        assert k == 1 or n / (k - 1) > 256
    assert k_for_corpus(0) == 1


def test_assign_centroids_arrow_matches_literal(spark):
    """The Arrow/BLAS large-k assignment path agrees with the
    expression-literal argmin on the real fixture (the ulp-tie caveat is
    measure-zero on random vectors), including through empty Arrow
    partitions, and survives a k beyond what expression literals could
    reasonably inline."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        assign_centroids,
        assign_centroids_arrow,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = [r.embedding for r in emb.orderBy("vec_id").limit(16).collect()]
    cents = [[float(x) for x in c] for c in cents]

    lit_map = {
        r.vec_id: r.centroid
        for r in assign_centroids(emb, cents).select("vec_id", "centroid").collect()
    }
    arrow_map = {
        r.vec_id: r.centroid
        for r in assign_centroids_arrow(emb.repartition(64), cents)
        .select("vec_id", "centroid")
        .collect()
    }
    assert arrow_map == lit_map

    # large k: 500 centroids (the fixture itself) — every vector's
    # nearest centroid is then itself
    all_cents = [
        [float(x) for x in r.embedding] for r in emb.orderBy("vec_id").collect()
    ]
    ids = [r.vec_id for r in emb.orderBy("vec_id").collect()]
    self_map = {
        r.vec_id: r.centroid
        for r in assign_centroids_arrow(emb, all_cents)
        .select("vec_id", "centroid")
        .collect()
    }
    for vid, cid in self_map.items():
        assert ids[cid] == vid

    import pytest

    with pytest.raises(ValueError):
        assign_centroids_arrow(emb, [])


def test_assign_centroids_arrow_overwrites_existing_column(spark):
    """Re-assignment over a df that already carries 'centroid' (e.g. a
    second pass after re-training) must overwrite the column — the
    withColumn semantics of the literal path — never emit a duplicate/
    ambiguous field."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        assign_centroids,
        assign_centroids_arrow,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    once = assign_centroids_arrow(emb, cents)
    twice = assign_centroids_arrow(once, cents)
    assert twice.columns.count("centroid") == 1
    want = {
        r.vec_id: r.centroid
        for r in assign_centroids(emb, cents).select("vec_id", "centroid").collect()
    }
    got = {r.vec_id: r.centroid for r in twice.select("vec_id", "centroid").collect()}
    assert got == want


def test_lsh_near_dup_sized_planes_parity_across_sfs(spark):
    """The registered lsh_near_dup now sizes its plane count from the
    corpus footer row count (P = ceil(log2(N/16))). The registry oracle
    pins the sf0.01 derivation; this test proves the derivation itself
    generalizes: at sf0.1 (N=2000 → P=7, a DIFFERENT plane set than the
    registered sf0.01 P=5) the query still matches an oracle built with
    the same sized planes."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _oracle_lsh_near_dup,
        q_lsh_near_dup,
        sized_planes_for,
    )
    from .oracle_harness import compare

    sfd = "/root/testdata/sf0.1"
    planes = sized_planes_for(sfd)
    assert len(planes) == 7  # genuinely different from the sf0.01 pin (5)
    assert len(sized_planes_for("/root/testdata/sf0.01")) == 5
    ok, msg = compare(
        q_lsh_near_dup(spark, sfd),
        _oracle_lsh_near_dup(0.2, planes),
        sfd,
        "lsh_near_dup_sf01_sized",
    )
    assert ok, msg


def test_knn_join_arrow_matches_exact_ranks(spark, emb):
    """The Arrow/BLAS serving join returns the SAME per-query top-k ids
    and ranks as the exact expression operator on the fixture (random
    vectors — no distance ties, so the ulp caveat cannot bite), with
    distances equal to 1e-9."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join,
        knn_join_arrow,
    )

    qrows = sorted(
        emb.filter(F.col("vec_id") < 16).collect(), key=lambda r: r.vec_id
    )
    qids = [r.vec_id for r in qrows]
    qmat = [[float(x) for x in r.embedding] for r in qrows]
    got = {
        (r.query_id, r.rank): (r.vec_id, r.dist)
        for r in knn_join_arrow(
            emb, qids, qmat, k=4, exclude_self=True
        ).collect()
    }
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = {
        (r.query_id, r.rank): (r.vec_id, r.dist)
        for r in knn_join(emb, queries, k=4, exclude_self=True).collect()
    }
    assert set(got) == set(want)
    for key, (vid, dist) in want.items():
        gvid, gdist = got[key]
        assert gvid == vid, key
        assert abs(gdist - dist) < 1e-9, key

    import pytest

    with pytest.raises(ValueError):
        knn_join_arrow(emb, [], [], k=3)
    with pytest.raises(ValueError):
        knn_join_arrow(emb, [1], [[0.0] * 64], k=3, metric="nope")


def test_search_batch_facade(spark, emb, emb_np):
    """search_batch: flat/arrow ≡ flat/exact ≡ per-query search() ranks
    on the fixture; ivf with full probes degenerates to exact; and the
    validation raises on unsupported tiers."""
    import pytest

    from the_build_project_image_retrieval_with_vector_databases_spark.search import (
        search,
        search_batch,
    )

    ids, mat = emb_np
    queries = [(int(ids[i]), [float(x) for x in mat[i]]) for i in range(6)]

    arrow = {
        (r.query_id, r.rank): r.vec_id
        for r in search_batch(
            emb, queries, k=4, index="flat", exclude_self=True
        ).collect()
    }
    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in search_batch(
            emb, queries, k=4, index="flat", exact=True, exclude_self=True
        ).collect()
    }
    assert arrow == exact and len(arrow) == 24
    # per-query facade agreement
    for qid, qvec in queries[:2]:
        single = [
            r.vec_id
            for r in search(emb, qvec, k=4, index="flat", exclude_id=qid).collect()
        ]
        assert [arrow[(qid, r)] for r in range(1, 5)] == single

    # IVF with every centroid probed = exact
    cents = [list(map(float, mat[i])) for i in range(8)]
    ivf = {
        (r.query_id, r.rank): r.vec_id
        for r in search_batch(
            emb, queries, k=4, index="ivf", train_vectors=cents, nprobe=8,
            exclude_self=True,
        ).collect()
    }
    assert ivf == exact

    with pytest.raises(ValueError):
        search_batch(emb, queries, index="pq")
    with pytest.raises(ValueError):
        search_batch(emb, [], index="flat")
    with pytest.raises(ValueError):
        search_batch(emb, queries, index="ivf", metric="cosine")


def test_mmr_rerank_edges(spark):
    """MMR edge contracts: a shortlist smaller than k yields min(k, m)
    picks ranked 1..m; the first pick is always the pure-relevance
    argmax (diversity term 0); λ validation raises."""
    import pytest
    from pyspark.sql import Row

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        mmr_rerank,
    )

    rows = [
        Row(query_id=0, vec_id=1, embedding=[1.0, 0.0], rel=0.9),
        Row(query_id=0, vec_id=2, embedding=[1.0, 0.0], rel=0.9),  # twin of 1
        Row(query_id=0, vec_id=3, embedding=[0.0, 1.0], rel=0.5),
    ]
    df = spark.createDataFrame(rows)
    out = sorted(
        mmr_rerank(df, k=5, lam_num=7, lam_den=10).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in out] == [1, 2, 3]
    # pick 1: best rel, lowest id among ties; pick 2: the ORTHOGONAL doc
    # beats the identical twin despite lower relevance
    assert out[0].vec_id == 1
    assert out[1].vec_id == 3
    assert out[2].vec_id == 2

    with pytest.raises(ValueError):
        mmr_rerank(df, k=2, lam_num=0, lam_den=10)
    with pytest.raises(ValueError):
        mmr_rerank(df, k=2, lam_num=11, lam_den=10)


def test_knn_join_arrow_k_exceeds_corpus(spark):
    """k larger than the corpus returns every row once per query, still
    correctly ranked."""
    from pyspark.sql import Row

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow,
    )

    rows = [Row(vec_id=i, embedding=[float(i), 0.0]) for i in range(3)]
    corpus = spark.createDataFrame(rows)
    out = knn_join_arrow(corpus, [0], [[0.0, 0.0]], k=10)
    got = [(r.rank, r.vec_id) for r in sorted(out.collect(), key=lambda r: r.rank)]
    assert got == [(1, 0), (2, 1), (3, 2)]


def test_knn_join_arrow_ivf_matches_reference(spark):
    """IVF-tier serving kernel (r11, VERDICT r10 #3): per-query results
    equal a numpy reference that scores each query against EXACTLY the
    rows of its own probed inverted lists (same BLAS formula, ties to
    the lower vec_id). Also pins the two pruning levels: the plan's
    scan filter is the union of probe sets, and no row outside a
    query's probes ever appears in its results."""
    import numpy as np

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        nearest_centroids,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow_ivf,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _ivf_layout,
    )

    path, centroids = _ivf_layout(spark, SF_SMOKE)
    layout = spark.read.parquet(path)
    rows = layout.select("vec_id", "embedding", "centroid").collect()
    by_id = {r.vec_id: r for r in rows}

    k, nprobe = 5, 4
    qids = sorted(by_id)[:8]
    qvecs = [list(by_id[q].embedding) for q in qids]
    probes = [nearest_centroids(centroids, v, nprobe) for v in qvecs]

    got = {
        (r.query_id, r.rank): (r.vec_id, r.dist)
        for r in knn_join_arrow_ivf(
            layout, qids, qvecs, probes, k=k
        ).collect()
    }
    assert len(got) == len(qids) * k

    mat = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    for qi, (qid, qv, ps) in enumerate(zip(qids, qvecs, probes)):
        q = np.asarray(qv, dtype=np.float64)
        cands = sorted(
            (float(np.sqrt(max(
                (mat[r.vec_id] @ mat[r.vec_id])
                - 2.0 * (mat[r.vec_id] @ q)
                + (q @ q), 0.0))), r.vec_id)
            for r in rows
            if int(r.centroid) in ps
        )
        for rank, (dist, vid) in enumerate(cands[:k], start=1):
            gvid, gdist = got[(qid, rank)]
            assert gvid == vid, (qid, rank, gvid, vid)
            # BLAS blocked accumulation vs the reference's per-pair dots
            # differs in ulps (the knn_join_arrow contract); the self
            # row's cancellation noise is ~sqrt(eps) ≈ 1e-8
            assert abs(gdist - dist) < 1e-6, (qid, rank)
            # inverted-list containment: result row is in a probed list
            assert int(by_id[gvid].centroid) in ps
        # self-hit: the query's own partition is always its first probe
        svid, sdist = got[(qid, 1)]
        assert svid == qid and sdist < 1e-6

    # plan contract: pruned scan (union-of-probes partition filter
    # before mapInPandas), one candidate-window exchange, no BNLJ
    df = knn_join_arrow_ivf(layout, qids, qvecs, probes, k=k)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_arrow_ivf_duplicate_probes_and_thin_lists(spark):
    """r12 ADVICE regressions: (1) a duplicated centroid id in a
    probe_set must not score/emit the query's candidates twice (two
    ranks for one vec_id); (2) with exclude_self=True and a probed
    inverted list holding ≤ k finite rows, the masked self row
    (dist=inf) must never surface in the top-k."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        nearest_centroids,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow_ivf,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _ivf_layout,
    )

    path, centroids = _ivf_layout(spark, SF_SMOKE)
    layout = spark.read.parquet(path)
    row = layout.orderBy("vec_id").first()
    qid, qv = int(row.vec_id), list(row.embedding)
    own_cent = int(row.centroid)

    # (1) duplicated probe id ≡ deduped probe set
    probes = nearest_centroids(centroids, qv, 2)
    dup = probes + [probes[0], probes[0]]
    clean = {
        (r.rank): (r.vec_id, round(r.dist, 9))
        for r in knn_join_arrow_ivf(layout, [qid], [qv], [probes], k=5).collect()
    }
    dirty = {
        (r.rank): (r.vec_id, round(r.dist, 9))
        for r in knn_join_arrow_ivf(layout, [qid], [qv], [dup], k=5).collect()
    }
    assert clean == dirty
    assert len({v for v, _ in clean.values()}) == len(clean)  # distinct ids

    # (2) nprobe=1 on the query's own list, k larger than the list:
    # every returned dist is finite and the self row is absent
    n_in_list = layout.filter(F.col("centroid") == own_cent).count()
    got = knn_join_arrow_ivf(
        layout, [qid], [qv], [[own_cent]], k=n_in_list + 3,
        exclude_self=True,
    ).collect()
    assert len(got) == n_in_list - 1  # all list rows except self
    assert all(r.vec_id != qid for r in got)
    import math

    assert all(math.isfinite(r.dist) for r in got)


def test_search_batch_ivf_arrow_and_mine_negatives_facades(spark, emb, emb_np):
    """r11 facade extensions: search_batch(index='ivf', arrow=True)
    routes to the inverted-list Arrow kernel and returns the same
    per-query rank sequence as the declarative ivf_search_batch on the
    fixture (same probe semantics; distances differ only in BLAS ulps);
    mine_negatives returns exactly the registered hard_negatives rows
    for the same query slice."""
    from the_build_project_image_retrieval_with_vector_databases_spark.search import (
        mine_negatives,
        search_batch,
    )

    ids, mat = emb_np
    queries = [(int(ids[i]), [float(x) for x in mat[i]]) for i in range(6)]
    cents = [list(map(float, mat[i])) for i in range(8)]

    declarative = {
        (r.query_id, r.rank): r.vec_id
        for r in search_batch(
            emb, queries, k=4, index="ivf", train_vectors=cents, nprobe=3,
            exclude_self=True,
        ).collect()
    }
    arrow = {
        (r.query_id, r.rank): r.vec_id
        for r in search_batch(
            emb, queries, k=4, index="ivf", train_vectors=cents, nprobe=3,
            exclude_self=True, arrow=True,
        ).collect()
    }
    assert arrow == declarative and len(arrow) == 24

    # mine_negatives ≡ the registered hard_negatives query on its slice
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        HN_K,
        q_hard_negatives,
    )
    from .conftest import SF_SMOKE

    emb_full = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qrows = sorted(
        emb_full.filter("vec_id >= 16 and vec_id < 48").collect(),
        key=lambda r: r.vec_id,
    )
    triples = [
        (int(r.vec_id), [float(x) for x in r.embedding], int(r.label))
        for r in qrows
    ]
    mined = {
        (r.query_id, r.rank): (r.vec_id, r.label, r.dist)
        for r in mine_negatives(emb_full, triples, k=HN_K).collect()
    }
    registered = {
        (r.query_id, r.rank): (r.vec_id, r.neg_label, r.dist)
        for r in q_hard_negatives(spark, SF_SMOKE).collect()
    }
    assert mined == registered


def test_knn_join_arrow_hamming_bit_identical_with_expression_form(spark):
    """The BQ serving kernel (r12) is BIT-IDENTICAL to the expression
    form — integer distances, full lexicographic tie handling — for a
    16-query batch over the fixture corpus, including the query rows
    themselves (hamming 0 self-hits) and all tie groups."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow_hamming,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_hamming,
        bq_train_thresholds,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    rows = sorted(
        ((int(r.vec_id), [float(x) for x in r.embedding]) for r in emb.collect())
    )
    train = [v for _, v in rows[:16]]
    thr = bq_train_thresholds(train)
    lo, hi = bq_encode_cols(thr, len(train))
    codes = emb.select("vec_id", lo.alias("bq_lo"), hi.alias("bq_hi"))

    qids = [vid for vid, _ in rows[:16]]
    qcodes = [bq_encode_query(v, thr, len(train)) for _, v in rows[:16]]
    k = 7
    got = {
        (r.query_id, r.rank): (r.vec_id, r.hamming)
        for r in knn_join_arrow_hamming(
            codes, qids, qcodes, k=k
        ).collect()
    }
    assert len(got) == 16 * k

    for qid, qc in zip(qids, qcodes):
        expect = (
            codes.select(
                "vec_id", bq_hamming(qc, ["bq_lo", "bq_hi"]).alias("hamming")
            )
            .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
            .limit(k)
            .collect()
        )
        for rank, e in enumerate(expect, start=1):
            assert got[(qid, rank)] == (e.vec_id, e.hamming), (qid, rank)
        # rank-1 is the query's own row at hamming 0 (self included)
        assert got[(qid, 1)][1] == 0

    # plan: corpus never shuffles — one candidate-window exchange only
    df = knn_join_arrow_hamming(codes, qids, qcodes, k=k)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_search_facade_bq_tier(emb, emb_np):
    """The 5th facade tier (index='bq', staged r12): same output
    contract (corpus cols + dist, best-first, k rows); dist is the
    integer Hamming distance as double (0..64); WITHOUT exclude the
    query's own row comes back first at distance 0. No overlap bar vs
    exact — 1-bit codes carry no fine-ranking signal on unstructured
    gaussian fixtures (the measured BQ use case is near-dup/rescore
    tiers; see test_bq_hamming_plan_and_near_dup_retrieval)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.search import search

    ids, mat = emb_np
    qvec = [float(x) for x in mat[ids.tolist().index(0)]]
    rows = search(emb, qvec, k=10, index="bq").collect()
    assert len(rows) == 10
    assert rows[0].vec_id == 0 and rows[0].dist == 0.0
    dists = [r.dist for r in rows]
    assert dists == sorted(dists)
    assert all(d == int(d) and 0 <= d <= 64 for d in dists)
    # cosine on a bq structure must refuse, like the other code tiers
    with pytest.raises(ValueError, match="L2-metric"):
        search(emb, qvec, index="bq", metric="cosine")


def test_knn_join_arrow_hamming_ivf_matches_flat_on_probed_lists(spark):
    """The composed BQ×IVF kernel (r13): per query, its result equals
    the flat Hamming kernel run over ONLY its probed inverted lists;
    with probe_sets = ALL centroids it is bit-identical to the flat
    kernel over the whole layout; duplicate probe ids must not double-
    emit candidates."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        nearest_centroids,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow_hamming,
        knn_join_arrow_hamming_ivf,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_train_thresholds,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _ivf_layout,
    )

    path, centroids = _ivf_layout(spark, SF_SMOKE)
    layout = spark.read.parquet(path)
    rows = sorted(
        (
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in layout.select("vec_id", "embedding").collect()
        )
    )
    train = [v for _, v in rows[:16]]
    thr = bq_train_thresholds(train)
    lo, hi = bq_encode_cols(thr, len(train))
    codes = layout.select(
        "vec_id", "centroid", lo.alias("bq_lo"), hi.alias("bq_hi")
    )

    qs = rows[:8]
    qids = [vid for vid, _ in qs]
    qcodes = [bq_encode_query(v, thr, len(train)) for _, v in qs]
    probes = [nearest_centroids(centroids, v, 4) for _, v in qs]
    k = 5

    got = {
        (r.query_id, r.rank): (r.vec_id, r.hamming)
        for r in knn_join_arrow_hamming_ivf(
            codes, qids, qcodes, probes, k=k
        ).collect()
    }
    # per query: flat Hamming kernel over exactly its probed lists
    for qid, qc, pr in zip(qids, qcodes, probes):
        sub = codes.filter(F.col("centroid").isin([int(c) for c in pr]))
        want = {
            (r.rank): (r.vec_id, r.hamming)
            for r in knn_join_arrow_hamming(
                sub.drop("centroid"), [qid], [qc], k=k
            ).collect()
        }
        for rank, ev in want.items():
            assert got[(qid, rank)] == ev, (qid, rank)

    # probing every centroid == the flat kernel over the whole layout;
    # a duplicated probe id must not double-emit
    all_probes = [list(range(len(centroids))) + [0] for _ in qs]
    full_ivf = {
        (r.query_id, r.rank): (r.vec_id, r.hamming)
        for r in knn_join_arrow_hamming_ivf(
            codes, qids, qcodes, all_probes, k=k
        ).collect()
    }
    full_flat = {
        (r.query_id, r.rank): (r.vec_id, r.hamming)
        for r in knn_join_arrow_hamming(
            codes.drop("centroid"), qids, qcodes, k=k
        ).collect()
    }
    assert full_ivf == full_flat


def test_knn_join_arrow_hamming_ivf_rescored_matches_exact_in_probed(spark):
    """The PRODUCTION composed tier (r14): Hamming shortlist within
    probed lists -> exact float rescore. Contracts:
    (a) with probe_sets = ALL centroids and overfetch covering the
        whole corpus, the result IS the exact kNN (numpy reference) —
        the rescore stage fully undoes the sign-quantization ranking;
    (b) with nprobe=4, every returned id lies in the query's probed
        lists and ranks are exact-L2-ordered within the shortlist;
    (c) degenerate inputs fail loudly (overfetch < 1, all-empty
        probe sets — the r13 ADVICE guard on the underlying kernel)."""
    import numpy as np

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        nearest_centroids,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow_hamming_ivf_rescored,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_train_thresholds,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _ivf_layout,
    )

    path, centroids = _ivf_layout(spark, SF_SMOKE)
    layout = spark.read.parquet(path)
    rows = sorted(
        (
            (int(r.vec_id), [float(x) for x in r.embedding], int(r.centroid))
            for r in layout.select("vec_id", "embedding", "centroid").collect()
        )
    )
    n = len(rows)
    train = [v for _, v, _ in rows[:16]]
    thr = bq_train_thresholds(train)
    lo, hi = bq_encode_cols(thr, len(train))
    codes = layout.select(
        "vec_id", "centroid", lo.alias("bq_lo"), hi.alias("bq_hi")
    )

    qs = rows[:6]
    qids = [vid for vid, _, _ in qs]
    qvecs = [v for _, v, _ in qs]
    qcodes = [bq_encode_query(v, thr, len(train)) for v in qvecs]
    k = 5

    # (a) all probes + overfetch >= n/k: rescored == exact kNN
    all_probes = [list(range(len(centroids))) for _ in qs]
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in knn_join_arrow_hamming_ivf_rescored(
            codes, layout, qids, qvecs, qcodes, all_probes,
            k=k, overfetch=(n // k) + 1,
        ).collect()
    }
    ids = np.array([vid for vid, _, _ in rows])
    mat = np.array([v for _, v, _ in rows], dtype=np.float64)
    for qid, qv in zip(qids, qvecs):
        d = np.sqrt(((mat - np.asarray(qv)) ** 2).sum(axis=1))
        order = sorted(zip(np.round(d, 6), ids))
        want = [int(v) for _, v in order[:k]]
        assert [got[(qid, r)] for r in range(1, k + 1)] == want, qid

    # (b) nprobe=4: containment in probed lists, exact-L2 order
    cent_of = {vid: c for vid, _, c in rows}
    probes = [nearest_centroids(centroids, v, 4) for v in qvecs]
    out = knn_join_arrow_hamming_ivf_rescored(
        codes, layout, qids, qvecs, qcodes, probes, k=k, overfetch=4
    ).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(int(r.query_id), []).append(r)
    for qid, pr in zip(qids, probes):
        mine = sorted(by_q[qid], key=lambda r: r.rank)
        assert 1 <= len(mine) <= k
        assert all(cent_of[int(r.vec_id)] in set(pr) for r in mine)
        keys = [(round(r.dist, 6), r.vec_id) for r in mine]
        assert keys == sorted(keys)

    # (c) loud failures on degenerate inputs
    with pytest.raises(ValueError, match="overfetch"):
        knn_join_arrow_hamming_ivf_rescored(
            codes, layout, qids, qvecs, qcodes, probes, k=k, overfetch=0
        )
    with pytest.raises(ValueError, match="probe set"):
        knn_join_arrow_hamming_ivf_rescored(
            codes, layout, qids, qvecs, qcodes, [[] for _ in qs], k=k
        )


def test_search_facade_bq_rerank_tier(emb, emb_np):
    """index='bq', rerank>0 (r14): Hamming shortlist → exact float
    re-rank. Contracts: same output shape best-first by EXACT L2; with
    the shortlist covering the whole corpus the result IS the exact
    flat top-k; rerank strictly improves (or equals) raw-Hamming
    overlap with exact; the plan stays zero-shuffle (two
    TakeOrderedAndProject cuts, no exchange)."""
    import numpy as np

    from the_build_project_image_retrieval_with_vector_databases_spark.search import search

    ids, mat = emb_np
    q = [float(x) for x in mat[ids.tolist().index(0)]]
    n = len(ids)
    k = 10

    full = search(emb, q, k=k, index="bq", rerank=(n // k) + 1)
    rows = full.collect()
    assert len(rows) == k and rows[0].vec_id == 0 and rows[0].dist == 0.0
    d = np.sqrt(((mat - np.asarray(q)) ** 2).sum(axis=1))
    exact_ids = [int(v) for _, v in sorted(zip(np.round(d, 9), ids))[:k]]
    # corpus-covering shortlist undoes the sign quantization entirely
    assert {r.vec_id for r in rows} == set(exact_ids)
    dists = [r.dist for r in rows]
    assert dists == sorted(dists)

    raw = {r.vec_id for r in search(emb, q, k=k, index="bq").collect()}
    resc = {
        r.vec_id for r in search(emb, q, k=k, index="bq", rerank=8).collect()
    }
    exact = set(exact_ids)
    assert len(resc & exact) >= len(raw & exact)

    plan = (
        search(emb, q, k=k, index="bq", rerank=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_kernels_reject_all_empty_probe_sets(spark):
    """All-empty probe sets must raise on every IVF kernel: the union
    scan filter ``isin([])`` would otherwise drop every row and return
    an empty answer as if nothing matched."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow_hamming_ivf,
        knn_join_arrow_ivf,
    )

    layout = spark.createDataFrame(
        [(0, 0, [0.0, 1.0], 1)],
        "vec_id long, centroid int, embedding array<double>, bq_h0 long",
    )
    with pytest.raises(ValueError, match="probe set"):
        knn_join_arrow_ivf(layout, [0], [[0.0, 1.0]], [[]], k=3)
    with pytest.raises(ValueError, match="probe set"):
        knn_join_arrow_hamming_ivf(
            layout, [0], [[1]], [[]], k=3, code_cols=("bq_h0",)
        )


@pytest.mark.parametrize("bad", ["ragged", "null"])
@pytest.mark.parametrize("path", ["flat", "ivf", "exact", "argmin"])
def test_vector_decode_rejects_ragged_and_null_vectors(spark, path, bad):
    """Every Arrow decode path refuses a ragged or null vector with an
    error naming the column — a flatten + reshape would otherwise fold
    rows of lengths 2, 1, 3 silently into a 3×2 matrix."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        assign_centroids_arrow,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow,
        knn_join_arrow_ivf,
        knn_join_exact,
    )

    mid = [1.0] if bad == "ragged" else None
    df = spark.createDataFrame(
        [(0, 0, [0.0, 1.0]), (1, 0, mid), (2, 0, [2.0, 3.0])],
        "vec_id long, centroid int, embedding array<double>",
    ).coalesce(1)
    q = [[0.0, 1.0]]
    run = {
        "flat": lambda: knn_join_arrow(df, [0], q, k=2),
        "ivf": lambda: knn_join_arrow_ivf(df, [0], q, [[0]], k=2),
        "exact": lambda: knn_join_exact(df, [0], q, k=2),
        "argmin": lambda: assign_centroids_arrow(df, q),
    }[path]
    with pytest.raises(Exception, match="ValueError: column 'embedding'"):
        run().collect()


def test_vector_decode_of_sliced_batch():
    """A sliced Arrow batch (list offsets not starting at 0) decodes to
    its own rows, widened to float64; ragged and null lists raise."""
    import pyarrow as pa

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        _vectors,
    )

    arr = pa.array(
        [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]], pa.list_(pa.float32())
    )
    batch = pa.RecordBatch.from_arrays([arr], names=["embedding"]).slice(1, 2)
    assert batch.column(0).offsets[0].as_py() == 2
    x = _vectors(batch, "embedding")
    assert x.dtype == np.float64
    assert x.tolist() == [[3.0, 4.0], [5.0, 6.0]]
    for bad in ([[1.0, 2.0], [3.0], [4.0, 5.0, 6.0]], [[1.0, 2.0], None]):
        b = pa.RecordBatch.from_arrays([pa.array(bad)], names=["embedding"])
        with pytest.raises(ValueError, match="column 'embedding'"):
            _vectors(b, "embedding")


@pytest.mark.parametrize("kind", DEGENERATE_KINDS)
def test_arrow_kernels_match_twins_on_degenerate_corpora(spark, kind):
    """Tie floods, exact duplicate pairs and zero vectors: the flat
    BLAS kernel (l2/dot/cosine) ranks exactly like the expression join;
    the IVF kernel like a numpy reference over each query's probed
    lists, ties by (round(dist, 6), id); the Hamming kernels, flat and
    IVF, bit-identically with the ``bq_hamming`` expression form."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow,
        knn_join_arrow_hamming,
        knn_join_arrow_hamming_ivf,
        knn_join_arrow_ivf,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
        bq_encode_cols,
        bq_encode_query,
        bq_hamming,
        bq_train_thresholds,
    )
    mat, df = degenerate_frame(spark, kind)
    n, k = len(mat), 5
    qids = [0, 1, 2, 5]
    qmat = [[float(x) for x in mat[i]] for i in qids]
    probes = [[0, 1], [2], [0, 2], [1]]

    def frame(out, col="dist"):
        return {(r.query_id, r.rank): (r.vec_id, r[col]) for r in out.collect()}

    qdf = spark.createDataFrame(
        list(zip(qids, qmat)), "query_id long, embedding array<double>"
    )
    for metric in ("l2", "dot", "cosine"):
        got = frame(
            knn_join_arrow(df, qids, qmat, k=k, metric=metric, exclude_self=True)
        )
        want = frame(knn_join(df, qdf, k=k, metric=metric, exclude_self=True))
        assert got.keys() == want.keys(), metric
        for key, (vid, dist) in want.items():
            assert got[key][0] == vid, (metric, key)
            assert abs(got[key][1] - dist) < 1e-6, (metric, key)

    got = frame(knn_join_arrow_ivf(df, qids, qmat, probes, k=k))
    for qid, qv, ps in zip(qids, qmat, probes):
        q = np.asarray(qv)
        cand = sorted(
            (round(float(np.sqrt(max(
                mat[i] @ mat[i] - 2.0 * (mat[i] @ q) + q @ q, 0.0))), 6), i)
            for i in range(n)
            if i % 3 in ps
        )[:k]
        assert [got[(qid, r)][0] for r in range(1, len(cand) + 1)] == [
            i for _, i in cand
        ], qid
        assert sum(1 for g, _r in got if g == qid) == len(cand)

    train = [list(mat[i]) for i in range(16)]
    thr = bq_train_thresholds(train)
    (h0,) = bq_encode_cols(thr, len(train))
    codes = df.select("vec_id", "centroid", h0.alias("bq_h0"))
    qcodes = [bq_encode_query(v, thr, len(train)) for v in qmat]
    flat = frame(
        knn_join_arrow_hamming(
            codes.drop("centroid"), qids, qcodes, k=k, code_cols=("bq_h0",)
        ),
        "hamming",
    )
    ivf = frame(
        knn_join_arrow_hamming_ivf(
            codes, qids, qcodes, probes, k=k, code_cols=("bq_h0",)
        ),
        "hamming",
    )
    for qid, qc, ps in zip(qids, qcodes, probes):
        probed = codes.filter(F.col("centroid").isin(ps))
        for sub, got in ((codes, flat), (probed, ivf)):
            expect = [
                (e.vec_id, e.hamming)
                for e in sub.select(
                    "vec_id", bq_hamming(qc, ["bq_h0"]).alias("hamming")
                )
                .orderBy("hamming", "vec_id")
                .limit(k)
                .collect()
            ]
            assert [got[(qid, r)] for r in range(1, len(expect) + 1)] == expect
            assert sum(1 for g, _r in got if g == qid) == len(expect)
