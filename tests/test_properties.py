"""Hypothesis property tests: the Catalyst expression library vs NumPy /
pure-Python reference implementations on randomized inputs. One Spark
round-trip per example keeps runtime bounded (small example counts)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from the_build_project_image_retrieval_with_vector_databases_spark.functions.vector import (
    cosine_sim,
    dot,
    l2_dist,
    l2_norm,
    l2_normalize,
)
from the_build_project_image_retrieval_with_vector_databases_spark.functions.text import (
    token_shingles,
    tokens,
)
from pyspark.sql import functions as F

from .conftest import DEGENERATE_KINDS, degenerate_frame

finite_f32 = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, width=32
)
vec_pair = st.integers(min_value=1, max_value=24).flatmap(
    lambda d: st.tuples(
        st.lists(finite_f32, min_size=d, max_size=d),
        st.lists(finite_f32, min_size=d, max_size=d),
    )
)


@settings(max_examples=12, deadline=None, derandomize=True)
@given(vec_pair)
def test_vector_exprs_match_numpy(spark, pair):
    a, b = pair
    df = spark.createDataFrame(
        [(a, b)], "a array<float>, b array<float>"
    )
    row = df.select(
        dot("a", "b").alias("dot"),
        l2_dist("a", "b").alias("l2"),
        l2_norm("a").alias("na"),
        cosine_sim("a", "b").alias("cos"),
    ).first()
    na = np.asarray(a, dtype=np.float32).astype(np.float64)
    nb = np.asarray(b, dtype=np.float32).astype(np.float64)
    assert math.isclose(row.dot, float(na @ nb), rel_tol=1e-9, abs_tol=1e-9)
    assert math.isclose(
        row.l2, float(np.sqrt(((na - nb) ** 2).sum())), rel_tol=1e-9, abs_tol=1e-9
    )
    assert math.isclose(row.na, float(np.linalg.norm(na)), rel_tol=1e-9, abs_tol=1e-9)
    denom = max(float(np.linalg.norm(na)) * float(np.linalg.norm(nb)), 1e-12)
    assert math.isclose(row.cos, float(na @ nb) / denom, rel_tol=1e-9, abs_tol=1e-9)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(finite_f32, min_size=1, max_size=24))
def test_l2_normalize_unit_norm_or_zero(spark, v):
    df = spark.createDataFrame([(v,)], "v array<float>")
    out = df.select(l2_norm(l2_normalize("v")).alias("n")).first().n
    raw = float(np.linalg.norm(np.asarray(v, dtype=np.float32).astype(np.float64)))
    if raw > 1e-9:
        assert abs(out - 1.0) < 1e-9
    else:
        assert out <= 1.0  # zero vector guarded by eps, stays ~0


text_strategy = st.text(
    alphabet=st.sampled_from("ab XY\t\n.!"), min_size=0, max_size=60
)


@settings(max_examples=15, deadline=None, derandomize=True)
@given(text_strategy, st.integers(min_value=1, max_value=4))
def test_tokens_and_shingles_match_python(spark, text, n):
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        tokens("t").alias("toks"), token_shingles(tokens("t"), n).alias("sh")
    ).first()
    want_toks = [w for w in text.lower().strip().split() if w]
    # Spark split on \s+ of a leading-space-trimmed string: equivalent to
    # Python str.split() for whitespace-only separators
    assert row.toks == want_toks
    want_sh = []
    for i in range(max(len(want_toks) - n + 1, 0)):
        g = " ".join(want_toks[i : i + n])
        if g not in want_sh:
            want_sh.append(g)
    assert sorted(row.sh) == sorted(want_sh)


# ---------------------------------------------------------------------------
# Pure-codec round trips (no Spark needed): encode with an independent
# writer, decode with the engine's parsers, compare pixel-exact.
# ---------------------------------------------------------------------------


def _encode_ppm(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def _encode_bmp(arr: np.ndarray, top_down: bool = False) -> bytes:
    import struct

    h, w, _ = arr.shape
    rows = arr if top_down else arr[::-1]
    pad = b"\x00" * ((4 - (w * 3) % 4) % 4)
    raster = b"".join(
        rows[y, :, ::-1].tobytes() + pad for y in range(h)
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0,
        len(raster), 0, 0, 0, 0,
    )
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 54)
    return head + info + raster


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    seed=st.integers(0, 2**31 - 1),
)
def test_ppm_roundtrip_pixel_exact(w, h, seed):
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.images import (
        decode_pixels,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_pixels(_encode_ppm(arr)), arr)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    top_down=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip_pixel_exact(w, h, top_down, seed):
    """Covers every row-padding residue (w mod 4) and both storage
    orientations (positive height = bottom-up, negative = top-down)."""
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.images import (
        decode_pixels,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_pixels(_encode_bmp(arr, top_down)), arr)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(
    w=st.integers(1, 16),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_resize_nearest_identity_and_corners(w, h, seed):
    from the_build_project_image_retrieval_with_vector_databases_spark.sources.images import (
        resize_nearest,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(resize_nearest(arr, w, h), arr)  # identity
    up = resize_nearest(arr, w * 3, h * 3)
    assert up.shape == (h * 3, w * 3, 3)
    assert np.array_equal(up[0, 0], arr[0, 0])  # top-left preserved
    assert np.array_equal(up[-1, -1], arr[-1, -1])  # bottom-right preserved


def test_vocab_filter_reconstruction_round_trips(spark):
    """The kept_hash really is the fingerprint of a reconstructable
    document: materializing the pruned corpus (kept tokens in position
    order) and re-tokenizing it reproduces exactly the reported per-doc
    counts and md5 — i.e. the query's fingerprint pins a concrete
    rewritten text, not an artifact of aggregation order."""
    import __spark_entry__ as entrymod
    from .conftest import SF_SMOKE

    first = entrymod.queries()["vocab_filter"](spark, SF_SMOKE)
    kept1 = {r.doc_id: (r.n_kept, r.kept_hash) for r in first.collect()}

    # reconstruct the pruned corpus, then re-run the same pipeline on it
    from pyspark.sql import functions as F
    from the_build_project_image_retrieval_with_vector_databases_spark.functions.text import (
        tokens,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    nd = docs.agg(F.count("*").alias("_nd"))
    vocab = (
        toks.select("doc_id", "tok").distinct().groupBy("tok")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(nd))
        .filter((F.col("df") >= 3) & (F.col("df") * 2 <= F.col("_nd")))
        .select("tok")
    )
    pruned = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("text")
        )
    )
    toks2 = pruned.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    kept2 = {
        r.doc_id: (r.n_kept, r.kept_hash)
        for r in toks2.groupBy("doc_id").agg(
            F.count("*").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("kept_hash"),
        ).collect()
    }
    nonempty1 = {k: v for k, v in kept1.items() if v[0] > 0}
    assert nonempty1 == kept2


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=4, max_value=20),
    st.integers(min_value=4, max_value=24),
)
def test_sequential_semantic_dedup_property(spark, seed, n_corpus, n_batch):
    """Property: on RANDOM small vector sets (seeded numpy, deliberately
    low-dimensional and coarsely quantized so near-dups are frequent),
    semantic_dedup_incremental equals the arbitrary-precision sequential
    greedy — corpus neighbors and KEPT lower-id batch neighbors only —
    for every (corpus, batch) split hypothesis draws."""
    from pyspark.sql import Row

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
        semantic_dedup_incremental,
    )

    rng = np.random.default_rng(seed)
    dim = 4
    scale = 1 << 6  # coarse quantization → frequent exact collisions
    num, den = 3, 10
    vals = rng.integers(-2, 3, size=(n_corpus + n_batch, dim)).astype(
        np.float64
    ) / 2.0
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in vals[i]])
        for i in range(n_corpus + n_batch)
    ]
    df = spark.createDataFrame(rows)
    init = [
        [int(math.floor(x * scale + 0.5)) for x in vals[i]] for i in range(2)
    ]
    corpus = df.filter(df.vec_id < n_corpus)
    batch = df.filter(df.vec_id >= n_corpus)
    got = {
        r.vec_id: (r.cid, r.keep)
        for r in semantic_dedup_incremental(
            corpus, batch, init, num, den, scale=scale
        ).collect()
    }

    qv = [
        [int(math.floor(x * scale + 0.5)) for x in vals[i]]
        for i in range(n_corpus + n_batch)
    ]
    asg = {}
    for i, v in enumerate(qv):
        dists = [sum((a - b) * (a - b) for a, b in zip(v, c)) for c in init]
        asg[i] = (dists.index(min(dists)), v, sum(x * x for x in v))

    def dup(u, v):
        uc, uq, un = asg[u]
        vc, vq, vn = asg[v]
        if uc != vc:
            return False
        dt = sum(a * b for a, b in zip(uq, vq))
        return dt > 0 and den * den * dt * dt > num * num * un * vn

    kept: list[int] = []
    want = {}
    for i in range(n_corpus, n_corpus + n_batch):
        cid = asg[i][0]
        dropped = any(dup(u, i) for u in range(n_corpus)) or any(
            dup(u, i) for u in kept
        )
        want[i] = (cid, not dropped)
        if not dropped:
            kept.append(i)
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n=st.integers(min_value=20, max_value=60),
    k_cents=st.integers(min_value=2, max_value=5),
    nprobe=st.integers(min_value=1, max_value=3),
)
def test_knn_join_arrow_ivf_property(spark, seed, n, k_cents, nprobe):
    """Randomized IVF-kernel property (r11): for any corpus, centroid
    assignment, and per-query probe sets, the kernel's per-query top-k
    equals the numpy brute force restricted to that query's probed
    lists (ties to the lower id), and never returns a row from an
    unprobed list."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow_ivf,
    )

    rng = np.random.default_rng(seed)
    d = 8
    nprobe = min(nprobe, k_cents)
    mat = rng.standard_normal((n, d))
    cents = rng.integers(0, k_cents, size=n)
    df = spark.createDataFrame(
        [
            (int(i), int(cents[i]), [float(x) for x in mat[i]])
            for i in range(n)
        ],
        "vec_id long, centroid int, embedding array<double>",
    ).repartition(3)

    q_n = 4
    qids = list(range(q_n))
    qvecs = [[float(x) for x in mat[i]] for i in range(q_n)]
    probes = [
        sorted(rng.choice(k_cents, size=nprobe, replace=False).tolist())
        for _ in range(q_n)
    ]
    k = 5
    got = {
        (r.query_id, r.rank): r.vec_id
        for r in knn_join_arrow_ivf(df, qids, qvecs, probes, k=k).collect()
    }
    for qi in range(q_n):
        q = mat[qi]
        cand = sorted(
            (float(np.sqrt(max(
                (mat[i] @ mat[i]) - 2.0 * (mat[i] @ q) + (q @ q), 0.0))), i)
            for i in range(n)
            if int(cents[i]) in probes[qi]
        )
        for rank, (dist, vid) in enumerate(cand[:k], start=1):
            assert got[(qi, rank)] == vid, (seed, qi, rank)
        n_in_probes = len(cand)
        n_got = sum(1 for (g, _r) in got if g == qi)
        assert n_got == min(k, n_in_probes)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n=st.integers(min_value=25, max_value=50),
)
def test_knn_recall_eval_exact_property(spark, seed, n):
    """Randomized recall-eval property (r11): the one-scan operator's
    (n_hits, recall) equals a brute-force reference intersecting the
    exact top-k with the probes-restricted top-k, self excluded, for
    every query — including zero-hit queries."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_recall_eval_exact,
    )

    rng = np.random.default_rng(seed)
    d, k_cents, nprobe, k = 6, 4, 2, 4
    mat = rng.standard_normal((n, d))
    cents = rng.integers(0, k_cents, size=n)
    df = spark.createDataFrame(
        [
            (int(i), int(cents[i]), [float(x) for x in mat[i]])
            for i in range(n)
        ],
        "vec_id long, centroid int, embedding array<double>",
    ).repartition(3)

    q_n = 5
    qids = list(range(q_n))
    qvecs = [[float(x) for x in mat[i]] for i in range(q_n)]
    probes = [
        sorted(rng.choice(k_cents, size=nprobe, replace=False).tolist())
        for _ in range(q_n)
    ]
    got = {
        r.query_id: (r.n_hits, r.recall)
        for r in knn_recall_eval_exact(df, qids, qvecs, probes, k=k).collect()
    }
    assert set(got) == set(qids), "every query must emit a row"
    for qi in range(q_n):
        q = mat[qi]

        def dist(i):
            acc = 0.0
            for j in range(d):
                dj = mat[i][j] - q[j]
                acc = acc + dj * dj
            return math.sqrt(acc)

        exact = [i for _, i in sorted(
            (dist(i), i) for i in range(n) if i != qi)][:k]
        approx = [i for _, i in sorted(
            (dist(i), i) for i in range(n)
            if i != qi and int(cents[i]) in probes[qi])][:k]
        n_hits = len(set(exact) & set(approx))
        assert got[qi] == (n_hits, n_hits / float(k)), (seed, qi)


@pytest.mark.parametrize("kind", DEGENERATE_KINDS)
def test_recall_evals_degenerate_corpora(spark, kind):
    """Tie floods, exact duplicate pairs and zero vectors: both one-scan
    recall evals equal a brute-force reference — left-fold distances,
    self excluded, every top-k cut by (dist, id) — for the IVF tier and
    for two reconstruction tiers."""
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_multi_recon_recall,
        knn_recall_eval_exact,
    )

    mat, df = degenerate_frame(spark, kind)
    n, k = len(mat), 4
    qids = [0, 1, 2, 5]
    qm = [[float(x) for x in mat[i]] for i in qids]
    probes = [[0, 1], [2], [0, 2], [1]]
    recons = [("half", lambda x: x * 0.5), ("sign", np.sign)]

    def topk(vecs, qid, rows):
        def dist(i):
            acc = 0.0
            for j in range(vecs.shape[1]):
                dj = vecs[i][j] - mat[qid][j]
                acc = acc + dj * dj
            return math.sqrt(acc)

        return {i for _, i in sorted((dist(i), i) for i in rows if i != qid)[:k]}

    ivf = {
        r.query_id: (r.n_hits, r.recall)
        for r in knn_recall_eval_exact(df, qids, qm, probes, k=k).collect()
    }
    multi = {
        (r.query_id, r.tier): (r.n_hits, r.recall)
        for r in knn_multi_recon_recall(df, qids, qm, recons, k=k).collect()
    }
    assert len(ivf) == len(qids) and len(multi) == len(qids) * len(recons)
    for qid, ps in zip(qids, probes):
        exact = topk(mat, qid, range(n))
        h = len(exact & topk(mat, qid, [i for i in range(n) if i % 3 in ps]))
        assert ivf[qid] == (h, h / k), (kind, qid)
        for name, fn in recons:
            h = len(exact & topk(fn(mat), qid, range(n)))
            assert multi[(qid, name)] == (h, h / k), (kind, qid, name)
