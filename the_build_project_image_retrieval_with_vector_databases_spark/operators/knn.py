"""Exact k-nearest-neighbor search — THE core operator (SURVEY §2.6 J1).

Reference semantics (``utils/faiss_utils.py:19-22`` ``index.search``,
called from ``app.py:171``): query vector vs corpus matrix, top-k by
ascending L2 (shipped ``IndexFlatL2``) or descending inner product
(``utils/__init__.py:76-77`` variant); positional-metadata join follows
(``utils/__init__.py:139-143``) — here metadata lives in the same row, so
the join disappears.

Spark-first physical strategy:

- **Single query** → distance expression over the (cached, columnar)
  corpus scan + ``ORDER BY dist LIMIT k`` — Catalyst plans
  ``TakeOrderedAndProject``: per-partition top-k heaps, driver merge.
  Zero shuffle. This is exactly FAISS's flat-search heap merge,
  distributed.
- **Query set** → ``crossJoin(broadcast(queries))`` (no shuffle of the
  corpus — the N×Q expansion streams through codegen) + per-query
  window rank. Spark ≥3.5 plans the rank filter as a two-phase
  ``WindowGroupLimit`` (Partial before the exchange, Final after), so
  only Q×k×partitions rows shuffle — the FAISS local-heap/merge shape
  comes out of the optimizer, not hand-rolled operators.
- **Driver-held query matrix** → one ``mapInArrow`` block-scan kernel
  (:func:`_block_scan`): decode each Arrow batch once, score it against
  the queries (flat BLAS, exact left fold or Hamming, optionally per
  IVF centroid group), cut per query to the top-k plus boundary ties,
  and merge with one rank window. Every Arrow kNN function in this
  module is a short spec over that kernel.

At 100 TB the corpus never moves: queries broadcast, distances fuse into
the scan stage, and only k rows per (query, partition) survive.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .dedup import _pin

from ..functions.vector import cosine_sim, dot, l2_dist

_METRICS = {
    "l2": (l2_dist, True),  # (distance fn, ascending?)
    "cosine": (cosine_sim, False),
    "dot": (dot, False),
}


def _metric(metric: str) -> tuple:
    try:
        return _METRICS[metric]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")


def _score(metric: str, a, b) -> tuple[Column, bool]:
    fn, asc = _metric(metric)
    return fn(a, b), asc


def _rank(
    cand: DataFrame,
    k: int,
    key: Column,
    id_col: str,
    by: tuple[str, ...] = ("query_id",),
    asc: bool = True,
) -> DataFrame:
    """Global top-k per ``by`` group, ordered by ``(key, id)`` — the one
    rank window behind every kNN join. Spark plans the ``rank <= k``
    filter as a two-phase ``WindowGroupLimit``."""
    w = Window.partitionBy(*by).orderBy(
        key.asc() if asc else key.desc(), F.col(id_col).asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_single(
    corpus: DataFrame,
    query_vec: Column,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id=None,
) -> DataFrame:
    """Top-k rows of ``corpus`` nearest to one query vector.

    ``query_vec`` is a literal/broadcastable Column (e.g. ``F.lit(...)``
    array or a scalar-subquery column). Plans as a single scan +
    ``TakeOrderedAndProject`` — no shuffle, no UDF.
    """
    score, asc = _score(metric, F.col(vec_col), query_vec)
    out = corpus
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != F.lit(exclude_id))
    out = out.withColumn("dist", score)
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col(id_col).asc()]
    return out.orderBy(*order).limit(k)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """For every row of ``queries``, the top-k nearest corpus rows.

    Output: all query columns (prefixed ``query_id``) + corpus id/label
    columns + ``dist`` + ``rank``. The queries side is broadcast — the
    corpus is scanned exactly once regardless of Q.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qvec"),
    )
    score, asc = _score(metric, F.col(vec_col), F.col("__qvec"))
    joined = corpus.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col("query_id"))
    joined = joined.withColumn("dist", score)
    return _rank(joined, k, F.col("dist"), id_col, asc=asc).drop("__qvec")


# ---------------------------------------------------------------------------
# Arrow block-scan kernel: the FAISS flat/IVF search shape for a
# driver-held query set. Each Arrow batch of the corpus is decoded once,
# scored against the queries in blocks, cut to a per-query top-k (plus
# its boundary ties) and emitted; one rank window over the per-batch
# candidates picks the global top-k. The corpus never shuffles; the
# candidate volume is batches·Q·(k + boundary ties).
# ---------------------------------------------------------------------------


def _vectors(batch, name: str, dtype=np.float64) -> "np.ndarray":
    """B×D matrix of the Arrow list column ``name`` — one flatten +
    reshape, no per-row Python objects. Every list must be non-null and
    of one length: a ragged column would otherwise reshape silently into
    the wrong rows. ``flatten`` honours a sliced batch's offsets."""
    col = batch.column(name)
    flat = col.flatten()
    if col.null_count or flat.null_count:
        raise ValueError(f"column {name!r} holds a null vector or element")
    lens = np.diff(np.asarray(col.offsets))
    if len(lens) and (lens != lens[0]).any():
        raise ValueError(
            f"column {name!r} holds vectors of different lengths "
            f"{np.unique(lens)[:4]}"
        )
    dim = int(lens[0]) if len(lens) else 0
    return flat.to_numpy().astype(dtype, copy=False).reshape(len(col), dim)


def _popcount64(x: "np.ndarray") -> "np.ndarray":
    """SWAR popcount (Hacker's Delight §5-1) of a uint64 array — numpy
    1.x has no ``bitwise_count``, and the word-parallel form beats a
    byte LUT, whose per-byte gather dominates the XOR."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(
        np.int64
    )


def _blas_dist(metric: str, qm: "np.ndarray"):
    """B×Q distances by one matmul (l2 via ‖x‖² − 2x·q + ‖q‖²). BLAS
    accumulation order differs from the left fold, so values carry
    ~1-ulp noise — even between exact duplicate vectors, since GEMM
    micro-kernels vary the path by row position."""
    qn = (qm * qm).sum(axis=1)

    def dist(x, qsel):
        dots = x @ qm[qsel].T
        if metric == "dot":
            return dots
        xx = (x * x).sum(axis=1)
        if metric == "l2":
            d = xx[:, None] - 2.0 * dots + qn[qsel][None, :]
            return np.sqrt(np.maximum(d, 0.0))
        return dots / np.maximum(
            np.sqrt(qn[qsel])[None, :] * np.sqrt(xx)[:, None], 1e-12
        )

    return dist


def _fold_dist(qm: "np.ndarray"):
    """B×Q exact L2: the per-dimension float64 left fold
    ``acc ← acc + (x_j − q_j)²`` — the same IEEE-754 operations in the
    same order as the ``F.aggregate`` fold of ``functions.vector.l2_dist``
    and DuckDB's ``list_reduce`` (float32 → float64 widening is exact,
    sqrt is correctly rounded everywhere), so the doubles are
    bit-identical to the expression path."""

    def dist(x, qsel):
        q = qm[qsel]
        acc = np.zeros((x.shape[0], q.shape[0]))
        for j in range(q.shape[1]):
            dj = x[:, j, None] - q[None, :, j]
            acc = acc + dj * dj
        return np.sqrt(acc)

    return dist


def _hamming_dist(qc: "np.ndarray"):
    """B×Q Hamming distances over packed uint64 halves: XOR + popcount
    per half, summed. Small exact integers."""

    def dist(x, qsel):
        q = qc[qsel]
        return sum(
            _popcount64(x[:, h, None] ^ q[None, :, h]) for h in range(q.shape[1])
        )

    return dist


def _cut(key: "np.ndarray", k: int, rounded: bool):
    """(row, query) index pairs of every row whose key is within the
    per-query k-th smallest — the k best plus EVERY boundary tie, so the
    exact global ``(key, id)`` window re-cuts to the true top-k (a row
    in the global top-k has fewer than k rows in its batch that beat
    it). Non-finite keys (masked rows) never pass.

    ``rounded`` serves BLAS distances, whose ulp noise would otherwise
    break ties between equal distances by row position: the key is
    rounded to 6 decimals, the class the rank window orders by, and the
    bound is padded by 1.5 quanta. ``np.round`` is half-to-even while
    ``F.round`` and the DuckDB oracle round HALF_UP, and at an exact .5
    landing the two differ by one quantum — the pad makes the emitted
    set a superset under either rule. 1.5 (not 1.0) so ulp rounding of
    ``bound + pad`` never lands below a needed lattice point, while no
    second lattice step is admitted."""
    key = np.where(np.isfinite(key), key, np.inf)
    pad = 0
    if rounded:
        key = np.round(key, 6)
        pad = 1.5e-6
    kk = min(k, key.shape[0])
    bound = np.partition(key, kk - 1, axis=0)[kk - 1]
    return np.nonzero((key <= bound + pad) & np.isfinite(key))


def _probe_groups(probe_sets: list[list[int]], n_queries: int) -> dict:
    """{centroid id: indices of the queries probing it}. Each probe set
    is deduped — a repeated id would otherwise score and emit a query's
    candidates twice, taking two ranks — and an all-empty input raises
    instead of scanning nothing (``isin([])`` drops every row)."""
    if len(probe_sets) != n_queries:
        raise ValueError("probe_sets must align with query_ids")
    by_cent: dict[int, list[int]] = {}
    for qi, probes in enumerate(probe_sets):
        for c in dict.fromkeys(int(c) for c in probes):
            by_cent.setdefault(c, []).append(qi)
    if not by_cent:
        raise ValueError("every probe set is empty — nothing to scan")
    return {c: np.asarray(v, dtype=np.int64) for c, v in by_cent.items()}


def _query_matrix(query_ids, mat, dtype=np.float64, name="query_mat", width=None):
    qids = np.asarray(query_ids, dtype=np.int64)
    qm = np.asarray(mat, dtype=dtype)
    if (
        qm.ndim != 2
        or qm.shape[0] != len(qids)
        or len(qids) == 0
        or (width is not None and qm.shape[1] != width)
    ):
        raise ValueError(
            f"{name} must be a non-empty Q×{width or 'D'} matrix matching "
            "query_ids"
        )
    return qids, qm


def _block_scan(
    df: DataFrame,
    cols: list[str],
    k: int,
    qids: "np.ndarray",
    feats,
    dist,
    carry: list[str],
    passes=((None, None),),
    masks=(),
    sign: float = 1.0,
    rounded: bool = False,
    dist_field: StructField = StructField("dist", DoubleType(), False),
) -> DataFrame:
    """The one ``mapInArrow`` kNN kernel. Per Arrow batch of
    ``df.select(*cols)``: ``feats(batch)`` decodes the B×F feature
    matrix once; each pass ``(recon, probes)`` optionally transforms it
    (``recon``, an exact float64 preprocessing such as PQ/SQ
    reconstruction) and scores it with ``dist(x, query_selector)``,
    either against all queries (``probes=None``, a flat scan) or per
    centroid group against only the queries probing it
    (``probes=(centroid_col, _probe_groups(...))`` — Σ|rows_c|·|probers_c|
    work instead of B·Q). ``masks`` are ``(col, per-query values)``
    pairs: a row whose ``col`` equals the query's value is dropped
    (self exclusion, same-label exclusion). ``sign=-1`` ranks
    similarities descending. Emits (query_id, *carry, dist[, tier]) —
    ``tier`` is the pass index, present when there are several passes —
    with ``dist`` the raw distance."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    fields = [StructField("query_id", LongType(), False)]
    fields += [df.schema[c] for c in carry] + [dist_field]
    tiered = len(passes) > 1
    if tiered:
        fields.append(StructField("tier", IntegerType(), False))
    names = [f.name for f in fields]
    dist_type = to_arrow_type(dist_field.dataType)

    def groups(batch, probes):
        if probes is None:
            yield slice(None), slice(None)
            return
        centroid_col, by_cent = probes
        cents = batch.column(centroid_col).to_numpy(zero_copy_only=False)
        for c in np.unique(cents):
            qsel = by_cent.get(int(c))
            if qsel is not None:
                yield np.flatnonzero(cents == c), qsel

    def score(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            x0 = feats(batch)
            at = np.arange(batch.num_rows)
            masked = [
                (batch.column(c).to_numpy(zero_copy_only=False), qv)
                for c, qv in masks
            ]
            out = []
            for tier, (recon, probes) in enumerate(passes):
                x = x0 if recon is None else recon(x0)
                for rows, qsel in groups(batch, probes):
                    d = dist(x[rows], qsel)
                    key = d * sign
                    for vals, qv in masked:
                        key[vals[rows][:, None] == qv[qsel][None, :]] = np.inf
                    ri, qi = _cut(key, k, rounded)
                    out.append((qids[qsel][qi], at[rows][ri], d[ri, qi], tier))
            if not out:
                continue
            take = pa.array(np.concatenate([o[1] for o in out]))
            arrays = [pa.array(np.concatenate([o[0] for o in out]), pa.int64())]
            arrays += [batch.column(c).take(take) for c in carry]
            arrays.append(
                pa.array(np.concatenate([o[2] for o in out]), dist_type)
            )
            if tiered:
                tiers = np.concatenate([np.full(len(o[1]), o[3]) for o in out])
                arrays.append(pa.array(tiers, pa.int32()))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    # column pruning does not cross mapInArrow: project the used columns
    # so the scan's ReadSchema never carries payload the kernel ignores
    return df.select(*cols).mapInArrow(score, StructType(fields))


def _vec_feats(vec_col: str):
    return lambda batch: _vectors(batch, vec_col)


def knn_join_arrow(
    corpus: DataFrame,
    query_ids: list[int],
    query_mat,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Arrow/BLAS kNN join for a DRIVER-HELD query set — the serving
    throughput path (the matmul shape FAISS's flat search runs). The
    expression-based :func:`knn_join` evaluates the distance through
    interpreted higher-order array functions (~11 µs per (corpus, query)
    pair); here each Arrow batch scores ALL queries with one B×D @ D×Q
    matmul in the block-scan kernel and forwards only its per-query
    top-k.

    Exactness contract: BLAS distances carry ~1-ulp noise, so ties are
    handled at 6-decimal granularity — each batch emits every row whose
    rounded distance ties the k-boundary and the global window orders by
    ``(round(dist, 6), id)`` — so rows whose true distances tie or
    differ below 5e-7 rank by id, like the DuckDB oracle's fold.
    Distinct rows closer than the rounding quantum but straddling a
    rounding boundary remain a measure-zero hazard. On a corpus where
    many rows share one rounded distance the tie term of the candidate
    volume is unbounded in principle (the window still cuts exactly).
    ``exclude_self=True`` drops the row whose id equals the query id.
    Use :func:`knn_join` where cross-engine exactness matters.

    Output: (query_id, id_col, dist, rank) with ``dist`` RAW (callers
    round for display).
    """
    _, asc = _metric(metric)
    qids, qm = _query_matrix(query_ids, query_mat)
    cand = _block_scan(
        corpus, [id_col, vec_col], k, qids, _vec_feats(vec_col),
        _blas_dist(metric, qm), carry=[id_col],
        masks=[(id_col, qids)] if exclude_self else (),
        sign=1.0 if asc else -1.0, rounded=True,
    )
    return _rank(cand, k, F.round(F.col("dist"), 6), id_col, asc=asc)


def knn_join_arrow_ivf(
    layout: DataFrame,
    query_ids: list[int],
    query_mat,
    probe_sets: list[list[int]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_col: str = "centroid",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-tier Arrow/BLAS kNN join — :func:`knn_join_arrow` with
    per-query inverted-list masking, the serving kernel for rates past
    the flat-scan knee (the batched analogue of the reference's
    ``IndexIVFFlat.search``).

    Two pruning levels compose:

    1. **Scan**: the layout is filtered to the UNION of all probe sets
       before the kernel — over the ``partitionBy(centroid)`` parquet
       layout that is partition PRUNING (only probed inverted lists are
       read).
    2. **FLOPs**: inside each Arrow batch, rows group by centroid and
       each group is scored ONLY against the queries probing that
       centroid — ≈ (nprobe/k_cents)·N·Q multiply-adds instead of the
       flat join's N·Q, at BLAS throughput.

    Same exactness contract as :func:`knn_join_arrow`; per-query recall
    is the nprobe curve (RECALL_CURVE.json). ``probe_sets[i]`` lists the
    centroid ids query ``i`` probes (duplicates ignored; all-empty
    raises). Output: (query_id, id_col, dist, rank ≤ k)."""
    qids, qm = _query_matrix(query_ids, query_mat)
    by_cent = _probe_groups(probe_sets, len(qids))
    cand = _block_scan(
        layout.filter(F.col(centroid_col).isin(sorted(by_cent))),
        [id_col, centroid_col, vec_col], k, qids, _vec_feats(vec_col),
        _blas_dist("l2", qm), carry=[id_col],
        passes=[(None, (centroid_col, by_cent))],
        masks=[(id_col, qids)] if exclude_self else (), rounded=True,
    )
    return _rank(cand, k, F.round(F.col("dist"), 6), id_col)


def knn_join_exact(
    corpus: DataFrame,
    query_ids: list[int],
    query_mat,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = False,
    query_labels: list[int] | None = None,
    label_col: str | None = None,
    recon=None,
) -> DataFrame:
    """Arrow kNN join that is BIT-EXACT with :func:`knn_join` (L2) — the
    fast path for oracle-pinned evaluation queries. Distances are the
    exact per-dimension float64 left fold (:func:`_fold_dist`), so the
    ``dist`` doubles equal the expression path's while D vectorized
    passes replace ~1 µs-per-element interpreted evaluation. Each batch
    emits its raw-distance top-k plus boundary ties and the global
    window ranks by ``(dist, id)``. Parity is pinned in
    ``tests/test_knn_exact.py``: full-frame equality against
    :func:`knn_join` including distance bits.

    Options (all preserve exactness):
    - ``exclude_self`` — drop corpus rows whose id equals the query id.
    - ``query_labels``/``label_col`` — drop corpus rows whose label
      EQUALS the query's label (hard-negative mining: nearest
      *different-class* rows); the label is carried to the output.
    - ``recon`` — exact float64 preprocessing of each batch's B×D
      matrix before scoring (e.g. PQ codeword / SQ bin-midpoint
      reconstruction, whose elementwise ops also replicate their
      expression twins); the query matrix must match the output dims.

    Output: (query_id, id_col[, label_col], dist, rank).
    """
    qids, qm = _query_matrix(query_ids, query_mat)
    masks = [(id_col, qids)] if exclude_self else []
    carry = [id_col]
    if query_labels is not None:
        if label_col is None:
            raise ValueError("query_labels requires label_col")
        qlab = np.asarray(query_labels, dtype=np.int64)
        if qlab.shape != qids.shape:
            raise ValueError("query_labels must align with query_ids")
        masks.append((label_col, qlab))
    if label_col is not None:
        carry.append(label_col)
    cand = _block_scan(
        corpus, [*carry, vec_col], k, qids, _vec_feats(vec_col),
        _fold_dist(qm), carry=carry, passes=[(recon, None)], masks=masks,
    )
    return _rank(cand, k, F.col("dist"), id_col)


def _recall_hits(
    cand: DataFrame, query_ids: list[int], k: int, id_col: str, n_tiers: int
) -> DataFrame:
    """Per query, the overlap of each approximate tier's top-k (tiers
    1..n_tiers-1) with the exact tier's (tier 0): one row per query,
    zero-hit queries included, with long columns ``__h1..``. ONE
    repartition on ``query_id`` satisfies every later clustering
    requirement (the rank window by (query_id, tier), the hit flags by
    (query_id, id), the per-query sums), so Catalyst adds no further
    shuffle."""
    topk = _rank(
        cand.repartition("query_id"), k, F.col("dist"), id_col,
        by=("query_id", "tier"),
    )
    flags = topk.groupBy("query_id", id_col).agg(
        *[
            F.max((F.col("tier") == t).cast("int")).alias(f"__t{t}")
            for t in range(n_tiers)
        ]
    )
    per_q = flags.groupBy("query_id").agg(
        *[
            F.sum(F.col("__t0") * F.col(f"__t{t}")).alias(f"__h{t}")
            for t in range(1, n_tiers)
        ]
    )
    base = cand.sparkSession.createDataFrame(
        [(int(q),) for q in query_ids], "query_id long"
    )
    return base.join(F.broadcast(per_q), "query_id", "left")


def _hits(col: Column, k: int) -> list[Column]:
    n = F.coalesce(col, F.lit(0))
    return [
        n.cast("int").alias("n_hits"),
        (n.cast("double") / F.lit(float(k))).alias("recall"),
    ]


def knn_recall_eval_exact(
    layout: DataFrame,
    query_ids: list[int],
    query_mat,
    probe_sets: list[list[int]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_col: str = "centroid",
) -> DataFrame:
    """Recall@k of the IVF tier vs exact search in ONE corpus scan.
    Each Arrow batch of the materialized layout emits per-batch top-k
    candidates for BOTH tiers from the block-scan kernel: tier 0 scores
    every row, tier 1 only each centroid group against the queries
    probing it. Distances use the exact left fold of
    :func:`knn_join_exact`, so ranks — and (n_hits, recall) — equal the
    two-scan pipeline's (exact kNN join ∩ IVF-pruned join). Self matches
    are excluded in both tiers. ONE hash exchange carries the rank
    windows and the hit counts (:func:`_recall_hits`).

    Output: (query_id, n_hits int, recall double) for every query,
    zero-hit queries included."""
    qids, qm = _query_matrix(query_ids, query_mat)
    by_cent = _probe_groups(probe_sets, len(qids))
    cand = _block_scan(
        layout, [id_col, centroid_col, vec_col], k, qids, _vec_feats(vec_col),
        _fold_dist(qm), carry=[id_col],
        passes=[(None, None), (None, (centroid_col, by_cent))],
        masks=[(id_col, qids)],
    )
    hits = _recall_hits(cand, query_ids, k, id_col, 2)
    return hits.select("query_id", *_hits(F.col("__h1"), k))


def knn_multi_recon_recall(
    corpus: DataFrame,
    query_ids: list[int],
    query_mat,
    recons: list[tuple[str, object]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of N reconstruction tiers vs exact search in ONE corpus
    scan — the quantization-sweep generalization of
    :func:`knn_recall_eval_exact`. ``recons`` is a list of
    (tier_name, recon_fn), each recon the exact float64 numpy twin of
    its encode/reconstruct expression (PQ codeword / SQ bin-midpoint).
    Per Arrow batch the kernel runs one pass per tier (tier 0 = raw
    vectors) with the exact left fold, so distances and ranks per tier
    are bit-identical to separate :func:`knn_join_exact` passes. Self
    matches are excluded in every tier. The per-tier hit counts come
    from one row per query, unpivoted by a single ``inline`` generator,
    so the corpus is scanned and folded once at any tier count.

    Output: (query_id, tier, n_hits int, recall double) for every
    query × non-exact tier, zero-hit queries included."""
    qids, qm = _query_matrix(query_ids, query_mat)
    if not recons:
        raise ValueError("recons must name at least one tier")
    cand = _block_scan(
        corpus, [id_col, vec_col], k, qids, _vec_feats(vec_col),
        _fold_dist(qm), carry=[id_col],
        passes=[(None, None)] + [(fn, None) for _t, fn in recons],
        masks=[(id_col, qids)],
    )
    hits = _recall_hits(cand, query_ids, k, id_col, len(recons) + 1)
    unpivot = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(str(t)).alias("tier"),
                    F.col(f"__h{i}").alias("__h"),
                )
                for i, (t, _fn) in enumerate(recons, start=1)
            ]
        )
    )
    return hits.select("query_id", unpivot).select(
        "query_id", "tier", *_hits(F.col("__h"), k)
    )


def knn_join_two_phase(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Two-phase (local top-k per partition → global top-k) kNN join —
    mirrors FAISS's per-block heap + merge (SURVEY §4.3.2).

    Delegates to :func:`knn_join`: Spark ≥3.5 plans the rank-window +
    ``rank <= k`` filter as ``WindowGroupLimit`` with a **Partial** stage
    BEFORE the exchange, i.e. each map partition forwards at most k rows
    per query — the shuffle carries Q×k×P rows, not N×Q. That IS the
    two-phase execution, natively, with zero extra operators; an earlier
    hand-rolled phase-1 window keyed by ``spark_partition_id`` only added
    a redundant second exchange of the same data (the window's partition
    keys force a hash exchange regardless of how "local" the keys are).
    The Partial WindowGroupLimit plan shape is pinned in
    ``tests/test_plans.py``.
    """
    return knn_join(
        corpus,
        queries,
        k=k,
        metric=metric,
        vec_col=vec_col,
        id_col=id_col,
        query_vec_col=query_vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    )


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    blocking: str | None = None,
    planes: list[list[float]] | None = None,
    n_bands: int = 2,
    pinned: bool = True,
) -> DataFrame:
    """All pairs (l, r) with distance < radius (similarity > radius for
    cosine/dot). The range variant of J1 — also the primitive behind
    embedding-cosine near-dup detection.

    Emits ``(left_id, right_id, dist)`` for ``left_id < right_id``.

    ``blocking=None`` (default) is brute-force O(|L|·|R|) — intended for
    bounded blocks only. ``blocking="lsh"`` is the scale path: the given
    hyperplanes split into ``n_bands`` bands; a pair is a candidate iff
    it agrees on every sign bit of at least one band (classic LSH
    OR-of-ANDs banding), the candidate join keys on (band, band-bucket)
    — a plain hash-partitioned equi-join, never a cartesian — and the
    exact metric verifies candidates only. Approximate by construction:
    recall trades against candidate volume via ``n_bands`` ×
    band width.
    """
    if blocking == "lsh":
        if not planes:
            raise ValueError("blocking='lsh' requires hyperplanes")
        return _radius_join_lsh(
            left, right, radius, metric, vec_col, id_col, planes, n_bands,
            pinned=pinned,
        )
    if blocking is not None:
        raise ValueError(f"unknown blocking mode {blocking!r}")
    l = left.select(
        F.col(id_col).alias("left_id"), F.col(vec_col).alias("__lvec")
    )
    r = right.select(
        F.col(id_col).alias("right_id"), F.col(vec_col).alias("__rvec")
    )
    score, asc = _score(metric, F.col("__lvec"), F.col("__rvec"))
    pred = (F.col("dist") < radius) if asc else (F.col("dist") > radius)
    return (
        l.crossJoin(F.broadcast(r))
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn("dist", score)
        .filter(pred)
        .select("left_id", "right_id", "dist")
    )


def _band_bucket_exprs(
    planes: list[list[float]], n_bands: int, vec_col: str
) -> list[Column]:
    """One integer bucket per band: band b owns the contiguous plane slice
    [b·w, (b+1)·w); bit_i = 1 iff v·h_i > 0. Pure codegen'd expressions
    (dot products over literal plane arrays) — no UDF."""
    from ..functions.vector import dot

    width = len(planes) // n_bands
    if width == 0:
        raise ValueError(f"{len(planes)} planes cannot form {n_bands} bands")
    exprs = []
    for b in range(n_bands):
        key = None
        for i, h in enumerate(planes[b * width : (b + 1) * width]):
            hlit = F.array(*[F.lit(float(x)) for x in h]).cast("array<double>")
            bit = F.when(dot(F.col(vec_col), hlit) > 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            key = bit if key is None else key + bit
        exprs.append(key.cast("long"))
    return exprs


def _radius_join_lsh(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    metric: str,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    n_bands: int,
    pinned: bool = True,
) -> DataFrame:
    """LSH-banded radius join: explode each row to its ``n_bands``
    (band, bucket) keys, equi-join the bands, dedupe candidate id pairs,
    then score exactly. Every shuffle is keyed (band bucket, then id) —
    the plan contains hash joins only, no nested-loop/cartesian."""
    bands = _band_bucket_exprs(planes, n_bands, vec_col)

    def keyed(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.posexplode(F.array(*bands)).alias("__band", "__key"),
        )

    cands = (
        # shuffle_hash pin: both banded sides scale with the corpus; a
        # static under-estimate must never pick a broadcast build here
        # (see operators.dedup.minhash_lsh_pairs — caught at 100×)
        keyed(left, "left_id")
        .join(_pin(keyed(right, "right_id"), "shuffle_hash", pinned),
              ["__band", "__key"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()  # OR-of-bands: a pair may collide in several bands
    )
    lvec = left.select(F.col(id_col).alias("left_id"), F.col(vec_col).alias("__lvec"))
    rvec = right.select(F.col(id_col).alias("right_id"), F.col(vec_col).alias("__rvec"))
    score, asc = _score(metric, F.col("__lvec"), F.col("__rvec"))
    pred = (F.col("dist") < radius) if asc else (F.col("dist") > radius)
    # merge pin on the verify joins — corpus-scaled vector sides, same
    # broadcast-estimate hazard as operators.dedup.minhash_lsh_pairs
    return (
        cands.join(_pin(lvec, "merge", pinned), "left_id")
        .join(_pin(rvec, "merge", pinned), "right_id")
        .withColumn("dist", score)
        .filter(pred)
        .select("left_id", "right_id", "dist")
    )


def mmr_rerank(
    shortlist: DataFrame,
    k: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal-marginal-relevance diversity re-rank of a per-query
    shortlist (Carbonell & Goldstein 1998) — the standard post-retrieval
    step that trades relevance against redundancy:

        pick argmax  λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)

    greedily k times per query (first pick: the diversity term is 0).
    The shortlist is the output of a top-N retrieval (N ≈ dozens), so
    the greedy is inherently tiny per query; queries are independent —
    one Arrow ``applyInPandas`` keyed by ``query_id_col`` distributes
    the re-rank across the query batch (the same shape as the
    sequential-dedup greedy). At scale nothing but the shortlist rows
    (Q·N) ever moves.

    Cross-engine determinism (oracle contract): ``rel_col`` must carry a
    ROUNDED (6-decimal) relevance; pairwise candidate cosines are
    rounded to 6 decimals too (the kept-rounded class — sqrt-derived
    values cannot land on the .5 boundary, scripts/tie_scan.py), and the
    score arithmetic mirrors the oracle op-for-op:
    (lam_num/lam_den)·rel − ((lam_den−lam_num)/lam_den)·maxsim on the
    same rounded doubles — identical IEEE ops on identical operands,
    ties broken by ascending id. Output: (query_id, rank, id, mmr_score
    raw double).
    """
    import pandas as pd

    if not (0 < lam_num <= lam_den):
        raise ValueError("lambda must be a fraction in (0, 1]")
    lam = float(lam_num) / float(lam_den)
    one_m = float(lam_den - lam_num) / float(lam_den)

    qid_field = next(
        f for f in shortlist.schema.fields if f.name == query_id_col
    )
    id_field = next(f for f in shortlist.schema.fields if f.name == id_col)
    out_schema = StructType(
        [
            qid_field,
            StructField("rank", IntegerType(), False),
            id_field,
            StructField("mmr_score", DoubleType(), False),
        ]
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
        m = len(pdf)
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = np.sqrt((x * x).sum(axis=1))
        sim = np.round(
            (x @ x.T) / np.maximum(n[:, None] * n[None, :], 1e-12), 6
        )
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        selected: list[int] = []
        remaining = list(range(m))
        out_rows = []
        for rank in range(1, min(k, m) + 1):
            best = None
            for i in remaining:
                ms = max((float(sim[i, j]) for j in selected), default=0.0)
                score = lam * float(rel[i]) - one_m * ms
                key = (-score, ids[i])
                if best is None or key < best[0]:
                    best = (key, i, score)
            _, pick, score = best
            selected.append(pick)
            remaining.remove(pick)
            out_rows.append(
                {
                    query_id_col: pdf[query_id_col].iloc[pick],
                    "rank": rank,
                    id_col: ids[pick],
                    "mmr_score": score,
                }
            )
        return pd.DataFrame(out_rows, columns=[c.name for c in out_schema])

    return shortlist.groupBy(query_id_col).applyInPandas(rerank, out_schema)


def _code_feats(code_cols: tuple[str, ...]):
    def feats(batch):
        halves = [batch.column(c).to_numpy() for c in code_cols]
        return np.stack(halves, axis=1).view(np.uint64)

    return feats


_HAMMING = StructField("hamming", IntegerType(), False)


def knn_join_arrow_hamming(
    codes: DataFrame,
    query_ids: list[int],
    query_codes: list[list[int]],
    k: int = 5,
    id_col: str = "vec_id",
    code_cols: tuple[str, ...] = ("bq_lo", "bq_hi"),
) -> DataFrame:
    """Arrow Hamming kNN join over BQ packed codes — the serving path
    of the binary-quantization tier (:func:`~.pq.bq_encode_cols`). Per
    Arrow batch the block-scan kernel XORs each packed int64 half
    (``code_cols`` — dim/32 of them; two at 64-D) against every query's
    halves and popcounts — a batch scans 16 BYTES per corpus row (vs 256
    for the float32 flat kernel).

    EXACTNESS (stronger than :func:`knn_join_arrow`'s contract):
    distances are small INTEGERS (no BLAS ulps, no rounding) and ties
    are COMMON, so each batch emits its k smallest distances plus every
    row tying the k-boundary exactly, in one vectorized pass for the
    whole query set; the global window ranks by (hamming ASC, id ASC),
    so the result is bit-identical to the expression form
    (``bq_hamming`` + TakeOrderedAndProject), pinned in
    tests/test_ann.py. Output: (query_id, id_col, hamming, rank).
    """
    qids, qc = _query_matrix(
        query_ids, query_codes, np.uint64, "query_codes", len(code_cols)
    )
    cand = _block_scan(
        codes, [id_col, *code_cols], k, qids, _code_feats(code_cols),
        _hamming_dist(qc), carry=[id_col], dist_field=_HAMMING,
    )
    return _rank(cand, k, F.col("hamming"), id_col)


def knn_join_arrow_hamming_ivf(
    layout: DataFrame,
    query_ids: list[int],
    query_codes: list[list[int]],
    probe_sets: list[list[int]],
    k: int = 5,
    id_col: str = "vec_id",
    code_cols: tuple[str, ...] = ("bq_lo", "bq_hi"),
    centroid_col: str = "centroid",
) -> DataFrame:
    """Composed BQ×IVF serving kernel — Hamming scan WITHIN probed
    inverted lists: :func:`knn_join_arrow_hamming` with
    :func:`knn_join_arrow_ivf`'s per-query list masking. The two tiers'
    levers multiply: IVF prunes which lists are read at all (over a
    materialized ``partitionBy(centroid)`` code layout the centroid
    INSET filter is parquet partition pruning) and BQ cuts the bytes
    per probed row 16× (16 vs 256 at 64-D); popcount work is
    ≈ (nprobe/k_cents)·N·Q word-ops.

    Exactness contract of the Hamming kernel (integer distances, all
    k-boundary ties emitted, global (hamming, id) rank window); recall
    is the IVF nprobe curve × the BQ sign-quantization curve
    (RECALL_CURVE.json prices both). Output:
    (query_id, id_col, hamming, rank ≤ k)."""
    qids, qc = _query_matrix(
        query_ids, query_codes, np.uint64, "query_codes", len(code_cols)
    )
    by_cent = _probe_groups(probe_sets, len(qids))
    cand = _block_scan(
        layout.filter(F.col(centroid_col).isin(sorted(by_cent))),
        [id_col, centroid_col, *code_cols], k, qids, _code_feats(code_cols),
        _hamming_dist(qc), carry=[id_col],
        passes=[(None, (centroid_col, by_cent))], dist_field=_HAMMING,
    )
    return _rank(cand, k, F.col("hamming"), id_col)


def knn_join_arrow_hamming_ivf_rescored(
    codes: DataFrame,
    floats: DataFrame,
    query_ids: list[int],
    query_vecs: list[list[float]],
    query_codes: list[list[int]],
    probe_sets: list[list[int]],
    k: int = 5,
    overfetch: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_cols: tuple[str, ...] = ("bq_lo", "bq_hi"),
    centroid_col: str = "centroid",
) -> DataFrame:
    """PRODUCTION composed BQ×IVF serving shape — the rescore stage the
    raw-Hamming tier (:func:`knn_join_arrow_hamming_ivf`) is missing:

    1. Hamming SHORTLIST: scan only each query's probed inverted lists
       over the 16×-smaller packed codes, keep the top ``k·overfetch``
       per query (integer-exact, all boundary ties emitted).
    2. Float RESCORE: join the shortlist ids back to the FULL-PRECISION
       vectors (pruned to the same probed partitions — at 100 TB the
       float fetch is id-lookups inside already-probed lists, never a
       full scan) and re-rank by exact L2, the ``pq_rerank_topk``
       two-phase pattern applied to the binary tier.

    Cost model at corpus size N, Q queries: popcount work is the
    composed tier's (nprobe/k_cents)·N·Q word-ops; float work drops
    from the IVF tier's (nprobe/k_cents)·N·Q·D multiply-adds to
    Q·k·overfetch·D — the shortlist, not the probed lists. Recall is
    the nprobe curve × the BQ-overfetch rescore curve (both priced in
    RECALL_CURVE.json).

    The rescore stage is pure Catalyst (broadcast the tiny shortlist,
    ``zip_with``/``aggregate`` left-fold in codegen) — no second
    Python/Arrow hop. Rank window on (round(dist, 6), id). Output:
    (query_id, id_col, dist, rank ≤ k) with ``dist`` the exact L2
    recomputed in double — RAW, callers round for display.
    """
    if overfetch < 1:
        raise ValueError(f"overfetch must be >= 1, got {overfetch}")
    if len(query_vecs) != len(query_ids):
        raise ValueError("query_vecs must align with query_ids")
    short = knn_join_arrow_hamming_ivf(
        codes,
        query_ids,
        query_codes,
        probe_sets,
        k=k * overfetch,
        id_col=id_col,
        code_cols=code_cols,
        centroid_col=centroid_col,
    )
    union_probes = sorted(_probe_groups(probe_sets, len(query_ids)))
    spark = floats.sparkSession
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in zip(query_ids, query_vecs)],
        schema="query_id long, __qv array<double>",
    )
    pruned = floats.filter(F.col(centroid_col).isin(union_probes)).select(
        id_col, vec_col
    )
    resc = (
        pruned.join(F.broadcast(short.select("query_id", id_col)), id_col)
        .join(F.broadcast(qdf), "query_id")
        .withColumn(
            "dist",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col).cast("array<double>"),
                        F.col("__qv"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    return _rank(resc, k, F.round(F.col("dist"), 6), id_col).select(
        "query_id", id_col, "dist", "rank"
    )
