"""Train/test decontamination: flag corpus documents that share word
n-grams with a benchmark (eval) set.

The standard LLM-pipeline hygiene pass (e.g. GPT-3 appendix C / PaLM §7
style n-gram overlap): any training document that contains an n-gram
also present in an evaluation benchmark is flagged (and usually dropped)
so eval scores aren't inflated by memorized test data. The reference app
has no text pipeline at all — this belongs to the north-star
LLM-data-pipeline family (SURVEY §7.2 M4), same tier as the dedup suite.

Scale shape (100 TB corpus, benchmark ≪ corpus):
- Both sides tokenize → distinct n-gram shingles → 60-bit md5-prefix
  ints, so the join carries longs, never shingle strings.
- The benchmark's distinct-gram set is tiny by construction (eval sets
  are MBs, not TBs) → broadcast hash join against the exploded corpus
  grams; the corpus is NEVER shuffled — the only exchange is the final
  per-doc aggregate, keyed by doc_id (map-side partial).
- With ``broadcast_bench=False`` (benchmark too big to broadcast) the
  join falls back to a hash-partitioned equi-join on the gram key —
  still candidate-proportional, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_long
from .dedup import doc_shingles


def _grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, _g) — one row per distinct n-gram per document, exploded
    from :func:`~.dedup.doc_shingles` (tokenize once per document;
    explode_outer + null filter keeps the shingle expression out of an
    inferred pushed-down filter)."""
    return (
        doc_shingles(df, n, text_col, id_col)
        .select(F.col(id_col).alias("_id"), F.explode_outer("sh").alias("_g"))
        .filter(F.col("_g").isNotNull())
    )


def _gram_hashes(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, h) — one row per distinct n-gram hash per document.

    The coalesce is a pure nullability annotation (md5 of a non-null
    gram is never null, so the -1 sentinel is unreachable): conv() is
    nullable in the schema, and a nullable join key makes the gram
    join infer an isnotnull(h) filter that Catalyst pushes BELOW this
    projection — re-evaluating the full 15-digit md5 fold once more
    per gram on BOTH sides. Non-nullable key → no inferred filter →
    one evaluation per gram."""
    return _grams(df, id_col, text_col, n).select(
        "_id", F.coalesce(md5_long(F.col("_g"), digits=15), F.lit(-1)).alias("h")
    )


def _hit_doc_grams(
    corpus: DataFrame, hits: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``hits`` (keyed by ``_id``) with each hit document's distinct
    gram count ``n_grams``. The corpus joins the hit set FIRST, so the
    second tokenize touches hit documents only (contamination is rare by
    construction), never the whole corpus. The hit side carries no
    broadcast hint: its size tracks the contamination rate, not the
    benchmark size, so AQE decides from runtime stats."""
    carry = tuple(c for c in hits.columns if c != "_id")
    hit_docs = corpus.select(F.col(id_col).alias("_id"), F.col(text_col)).join(
        hits, "_id"
    )
    return doc_shingles(hit_docs, n, text_col, "_id", carry).select(
        "_id", F.size("sh").alias("n_grams"), *carry
    )


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    min_hits: int = 1,
    severe_frac: float = 0.2,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-corpus-document benchmark-overlap report.

    Returns one row per corpus document with ≥ ``min_hits`` shared
    n-grams: ``(doc_id, n_grams, n_shared, n_bench_docs, overlap_frac,
    severe)`` where ``overlap_frac = n_shared / n_grams`` and ``severe``
    flags documents above ``severe_frac`` (likely verbatim leaks rather
    than incidental collisions).
    """
    # ONE full tokenize+shingle pass over the corpus (the dominant cost).
    # The gram count must NOT ride the explode projection: folding
    # size(grams) into it doubles the generated code for the shingle
    # expression past the codegen limit (~13x slower interpreted).
    corp = _gram_hashes(corpus, id_col, text_col, n)
    bench = (
        _gram_hashes(benchmark, id_col, text_col, n)
        .select(F.col("_id").alias("_bench_id"), "h")
        .distinct()
    )
    if broadcast_bench:
        bench = F.broadcast(bench)
    hits = (
        corp.join(bench, "h")
        .groupBy("_id")
        .agg(
            F.countDistinct("h").alias("n_shared"),
            F.countDistinct("_bench_id").alias("n_bench_docs"),
        )
        .filter(F.col("n_shared") >= min_hits)
    )
    # raw integer-ratio double: bit-exact cross-engine (rounding would
    # reintroduce the .5-tie hazard)
    frac: Column = F.col("n_shared").cast("double") / F.col("n_grams").cast("double")
    return _hit_doc_grams(corpus, hits, id_col, text_col, n).select(
        F.col("_id").alias(id_col),
        "n_grams",
        "n_shared",
        "n_bench_docs",
        frac.alias("overlap_frac"),
        (frac >= F.lit(severe_frac)).alias("severe"),
    )


def semantic_screen(
    emb: DataFrame,
    *,
    eval_ids_max: int = 32,
    k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination screen — the cosine companion to
    :func:`ngram_overlap`: rank corpus vectors by similarity to ANY
    held-out benchmark vector and report the top-``k`` closest
    ``(vec_id, eval_id, dist)`` pairs (the rows a decontamination pass
    reviews/drops first). Rephrasings and translations defeat n-gram
    overlap but stay close in embedding space — this is the screen
    modern pipelines run beside the lexical one.

    Both sides are L2-NORMALIZED first, so L2 distance is a monotone
    transform of cosine (‖a−b‖² = 2−2cos on unit vectors) and the
    bit-exact left-fold kNN machinery applies unchanged
    (``knn.knn_join_exact`` with a normalize ``recon`` hook — the same
    float64 per-dimension fold and ``greatest(‖v‖, 1e-12)`` clamp as
    the ``l2_normalize`` expression, so DuckDB re-derives every
    distance bit-for-bit).

    Scale shape: the benchmark is bounded (eval sets are thousands of
    rows, not corpus-scaled — the driver ``collect`` is ≤
    ``eval_ids_max`` rows by contract); the corpus never shuffles — the
    Arrow kernel emits ≤ partitions·Q·k candidates, one tiny window
    picks per-corpus-row best, and the global report is a
    TakeOrderedAndProject. Per-eval top-k containment makes the
    composition exact: a corpus row in the global top-k by best-eval
    distance is necessarily within its best eval's per-query top-k.

    Distinct-distance assumption: the containment argument is strict
    only when no two CORPUS rows tie exactly at a per-eval k boundary
    (the per-eval cut orders by (dist, id); with exact boundary ties —
    duplicated corpus embeddings — the pre-cut could drop a pair the
    oracle's full cross-join keeps at the global LIMIT boundary).
    Exact corpus-corpus distance ties are measure-zero on real
    embeddings; raise ``k`` past the duplicate multiplicity if a corpus
    is known to contain exact duplicates.
    """
    import numpy as np

    from pyspark.sql import Window
    from .knn import knn_join_exact

    def _normalize_leftfold(x: "np.ndarray") -> "np.ndarray":
        # acc_j = acc_{j-1} + x_j² — the same fold order as _dk_norm /
        # l2_normalize (squares are non-negative, so the zero init is
        # bit-neutral); single IEEE sqrt + clamped divide.
        acc = np.zeros(x.shape[0])
        for j in range(x.shape[1]):
            acc = acc + x[:, j] * x[:, j]
        n = np.maximum(np.sqrt(acc), 1e-12)
        return x / n[:, None]

    ev = (
        emb.filter(F.col(id_col) < eval_ids_max)
        .select(id_col, vec_col)
        .collect()
    )
    eval_ids = [int(r[0]) for r in ev]
    if not eval_ids:
        raise ValueError(
            f"semantic_screen: empty eval slice — no rows with "
            f"{id_col} < {eval_ids_max}; nothing to screen against"
        )
    qm = _normalize_leftfold(np.asarray([r[1] for r in ev], dtype=np.float64))
    corp = emb.filter(F.col(id_col) >= eval_ids_max)
    cand = knn_join_exact(
        corp,
        eval_ids,
        qm,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        recon=_normalize_leftfold,
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("dist").asc(), F.col("query_id").asc()
    )
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, F.col("query_id").alias("eval_id"), "dist")
    )
    return best.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(k)


# Probe-position derivation — TWO independent positions from ONE md5
# digest per gram: hex windows [1..8] and [9..16] of the same 32-char
# digest (the Kirsch-Mitzenmacher observation that a Bloom filter's k
# probes can all derive from one strong hash). ONE md5 per gram instead
# of k salted re-hashes — at 100 TB the corpus-side gram hashing is the
# op's dominant cost. Cross-engine contract: DuckDB oracles slice the
# same digest at the same offsets.
BLOOM_HEX_STARTS: tuple[int, ...] = (1, 9)


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    m_bits: int = 65536,
    min_hits: int = 1,
) -> DataFrame:
    """Bloom-filter decontamination prefilter (Bloom, CACM 1970) — the
    APPROXIMATE-membership companion to :func:`ngram_overlap` for when
    the benchmark's exact gram set is too large to broadcast as longs:
    insert every benchmark n-gram into an ``m_bits``-position filter
    (``len(BLOOM_HEX_STARTS)`` probe positions sliced from ONE md5
    digest per gram), then flag corpus documents whose grams have ALL
    probe positions set.

    Guarantees, both deterministic and oracle-replayable:
    - NO false negatives: every document ``ngram_overlap`` flags is
      flagged here too (a truly shared gram sets its own positions).
    - False positives at the classic rate ≈ (1 − e^(−h·G/m))^h for G
      benchmark grams and h probes — deterministic given the digest
      windows, so the DuckDB oracle reproduces the SAME false
      positives bit-exactly.

    Returns ``(doc_id, n_grams, n_maybe, maybe_frac)`` for corpus docs
    with ≥ ``min_hits`` maybe-contaminated grams; downstream, hits go to
    the exact pass (``ngram_overlap``) for confirmation — the standard
    two-tier hygiene pipeline.

    Scale shape (the reason this exists): the filter state is the
    DISTINCT SET-POSITION relation — **≤ m_bits rows no matter how many
    grams the benchmark holds** (a fixed broadcast; the exact path's
    broadcast grows with the benchmark). The corpus is never shuffled:
    probe checks are two broadcast LEFT SEMI joins against the position
    set, and the only corpus-keyed exchange is the per-doc aggregate.
    Size ``m_bits ≈ 10 · h · |benchmark grams|`` for a ~1% FP rate.
    """
    def _gram_positions(df: DataFrame) -> DataFrame:
        # one row per distinct n-gram per document, with its probe
        # positions. The digest is materialized in its own projection
        # and sliced twice — ONE md5 evaluation per gram.
        hexed = _grams(df, id_col, text_col, n).select(
            "_id", F.md5(F.col("_g")).alias("_h")
        )
        # coalesce is a pure nullability annotation: the position is
        # never null (md5 of a non-null gram), but conv() is nullable
        # in the schema, and the semi joins below would otherwise
        # infer an isnotnull(p_i) filter that Catalyst pushes BELOW
        # this projection — re-evaluating the md5 once more per gram
        # (observed in the executed plan). Non-nullable keys → no
        # inferred filter → exactly ONE md5 evaluation per gram.
        return hexed.select(
            "_id",
            *[
                F.coalesce(
                    F.conv(F.substring(F.col("_h"), start, 8), 16, 10)
                    .cast("long")
                    % m_bits,
                    F.lit(-1),
                ).alias(f"p{i}")
                for i, start in enumerate(BLOOM_HEX_STARTS)
            ],
        )

    probes = [f"p{i}" for i in range(len(BLOOM_HEX_STARTS))]
    bits = (
        _gram_positions(benchmark)
        .select(F.explode(F.array(*probes)).alias("pos"))
        .distinct()
    )
    maybe = _gram_positions(corpus)
    for i, p in enumerate(probes):
        maybe = maybe.join(
            F.broadcast(bits.select(F.col("pos").alias(f"_b{i}"))),
            F.col(p) == F.col(f"_b{i}"),
            "left_semi",
        )
    hits = (
        maybe.groupBy("_id")
        .agg(F.count("*").alias("n_maybe"))
        .filter(F.col("n_maybe") >= min_hits)
    )
    frac = F.col("n_maybe").cast("double") / F.col("n_grams").cast("double")
    return _hit_doc_grams(corpus, hits, id_col, text_col, n).select(
        F.col("_id").alias(id_col), "n_grams", "n_maybe", frac.alias("maybe_frac")
    )


def contamination_eval_split(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    dirty_min_hits: int = 1,
) -> DataFrame:
    """GPT-3 Appendix-C dirty/clean EVAL split — the REVERSE direction of
    :func:`ngram_overlap`: instead of flagging training documents that
    leak benchmark text, score each EVALUATION example by its n-gram
    overlap with the training corpus and split the benchmark into a
    ``dirty`` subset (≥ ``dirty_min_hits`` grams seen in training —
    GPT-3 used "any collision") and its ``clean`` complement, on which
    honest held-out metrics are reported (Brown et al. 2020, App. C;
    word n-grams here vs their 13-gram character spans — the fixture
    docs are ~30-80 tokens).

    Output: one row per eval document —
    ``(doc_id, n_grams, n_dirty_grams, dirty)``; ``dirty_frac`` is the
    integer-ratio double (bit-exact cross-engine).

    Scale shape (corpus 100 TB, benchmark MBs): the corpus side is one
    tokenize→shingle→hash projection fused into its scan and is NEVER
    shuffled — the exploded corpus grams broadcast-join the eval-gram
    set, and the only exchange is the per-eval-doc aggregate whose key
    space is ≤ the benchmark's gram count (map-side partial distinct
    absorbs hot grams matched by millions of corpus rows)."""
    ev_g = _gram_hashes(eval_df, id_col, text_col, n)
    corp_g = _gram_hashes(corpus, id_col, text_col, n).select("h")
    hits = (
        corp_g.join(F.broadcast(ev_g), "h")
        .groupBy("_id")
        .agg(F.countDistinct("h").alias("n_dirty_grams"))
    )
    n_dirty = F.coalesce(F.col("n_dirty_grams"), F.lit(0))
    return (
        doc_shingles(eval_df, n, text_col, id_col)
        .select(F.col(id_col).alias("_id"), F.size("sh").alias("n_grams"))
        # hits ≤ |benchmark| rows by construction — broadcast, so the
        # final assembly never sorts/shuffles the (already tiny) sides
        .join(F.broadcast(hits), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            n_dirty.alias("n_dirty_grams"),
            (n_dirty >= dirty_min_hits).alias("dirty"),
            (
                n_dirty.cast("double")
                / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
            ).alias("dirty_frac"),
        )
    )
