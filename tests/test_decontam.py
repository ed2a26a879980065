"""Unit tests for the decontamination operator and the label-centroid
query (round-4 additions to the LLM-pipeline family)."""

from __future__ import annotations

import collections

import numpy as np

import __spark_entry__ as entrymod
from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
    ngram_overlap,
)

from .conftest import SF_SMOKE

import pytest


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark



def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_verbatim_leak_flagged_severe(spark):
    bench = _docs(spark, [(0, "the quick brown fox jumps over the lazy dog")])
    corpus = _docs(
        spark,
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "completely different words here nothing shared at all okay"),
        ],
    )
    out = {r.doc_id: r for r in ngram_overlap(corpus, bench, n=4).collect()}
    assert set(out) == {10}, "only the verbatim copy may be flagged"
    assert out[10].overlap_frac == 1.0
    assert out[10].severe


def test_partial_overlap_counts_one_gram(spark):
    bench = _docs(spark, [(0, "a b c d e")])
    # exactly one shared 4-gram ("a b c d") among 7 distinct corpus grams
    corpus = _docs(spark, [(10, "x x x a b c d y z w")])
    rows = ngram_overlap(corpus, bench, n=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_grams, r.n_shared, r.n_bench_docs) == (7, 1, 1)
    assert not r.severe


def test_shuffle_mode_matches_broadcast_mode(spark):
    """broadcast_bench=False (benchmark too big to broadcast) must give
    identical results through the hash-partitioned join path."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    bench = docs.filter("doc_id < 20")
    corpus = docs.filter("doc_id >= 20")
    a = sorted(
        map(tuple, ngram_overlap(corpus, bench, n=4, broadcast_bench=True).collect())
    )
    b = sorted(
        map(tuple, ngram_overlap(corpus, bench, n=4, broadcast_bench=False).collect())
    )
    assert a == b and a


def test_label_centroids_numpy_parity(spark):
    """The quantized-sum centroid must match a NumPy reimplementation and
    come out unit-norm after the renormalize step."""
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        q_label_centroids,
    )

    # registry row retired r7 (sibling: kmeans_train_assign); numeric
    # contract stays pinned here
    rows = q_label_centroids(spark, SF_SMOKE).collect()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    by_label = collections.defaultdict(list)
    for r in emb:
        by_label[r.label].append(np.array(r.embedding, dtype=np.float64))
    # exploded (label, n_vectors, dim, centroid_val) rows — reassemble
    got_by_label: dict = collections.defaultdict(dict)
    n_by_label: dict = {}
    for r in rows:
        got_by_label[r.label][r.dim] = r.centroid_val
        n_by_label[r.label] = r.n_vectors
    assert set(got_by_label) == set(by_label)
    for label, dims in got_by_label.items():
        X = np.stack(by_label[label])
        q = np.round(X * 1e6)  # banker's vs half-up ties absorbed by atol
        m = q.sum(axis=0) / (len(X) * 1e6)
        u = m / np.sqrt((m * m).sum())
        assert sorted(dims) == list(range(X.shape[1])), "dims must be dense"
        got = np.array([dims[d] for d in range(X.shape[1])], dtype=np.float64)
        assert n_by_label[label] == len(X)
        assert np.allclose(got, u, atol=1e-6)
        assert abs(np.linalg.norm(got) - 1.0) < 1e-6


from datetime import datetime, timezone

from hypothesis import given, settings, strategies as st

from the_build_project_image_retrieval_with_vector_databases_spark.operators.windows import (
    interval_join,
)

_event = st.tuples(
    st.integers(min_value=0, max_value=3),      # user
    st.integers(min_value=0, max_value=7200),   # epoch offset (2 bucket widths)
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    views=st.lists(_event, min_size=0, max_size=12),
    purchases=st.lists(_event, min_size=0, max_size=12),
)
def test_interval_join_matches_bruteforce(spark_global, views, purchases):
    """Bucket-blocked interval join ≡ O(n²) brute force on random event
    sets — pairs strictly-after within 3600 s, each counted exactly once."""
    spark = spark_global
    base = 1_600_000_000

    def mk(rows, idc):
        data = [
            (i, u, datetime.fromtimestamp(base + ep, tz=timezone.utc).replace(tzinfo=None))
            for i, (u, ep) in enumerate(rows)
        ]
        return spark.createDataFrame(data, f"{idc} long, user_id long, ts timestamp")

    vdf = mk(views, "view_id").withColumnRenamed("ts", "v_ts")
    pdf = mk(purchases, "purchase_id").withColumnRenamed("ts", "p_ts")
    got = sorted(
        (r.view_id, r.purchase_id)
        for r in interval_join(
            vdf, pdf, key="user_id", left_ts="v_ts", right_ts="p_ts",
            within_s=3600,
        ).collect()
    )
    want = sorted(
        (vi, pi)
        for vi, (vu, vep) in enumerate(views)
        for pi, (pu, pep) in enumerate(purchases)
        if vu == pu and pep > vep and pep <= vep + 3600
    )
    assert got == want


# ---------------------------------------------------------------------------
# Adversarial text inputs for the n-gram operators: documents shorter than
# n tokens, the empty string, whitespace-only text, null text, and one
# token repeated (every shingle identical → one distinct gram). Expected
# values come from a brute-force Python reference of the same contracts.
# ---------------------------------------------------------------------------

import hashlib
import re

from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
    BLOOM_HEX_STARTS,
    bloom_decontaminate,
    contamination_eval_split,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
    ngram_novelty_score,
)

_ADV_CORPUS = [
    (1, "alpha beta"),                     # shorter than n
    (2, ""),                               # empty
    (3, "   \t\n  "),                      # whitespace only
    (4, None),                             # null
    (5, "spam spam spam spam spam spam spam"),  # one distinct gram
    (6, " Spam spam\tSPAM  spam spam "),   # same gram after the fold
    (7, "the quick brown fox jumps over the lazy dog"),
    (8, "quick brown fox jumps"),          # exactly n=4 tokens
    (9, "lazy dog lazy dog lazy dog"),
]
_ADV_BENCH = [
    (100, "spam spam spam spam"),
    (101, "the quick brown fox jumps"),
    (102, ""),
    (103, None),
    (104, " \t "),
    (105, "alpha beta"),
    (106, "dog lazy dog lazy dog"),
]


def _py_tokens(text):
    """tokens(): lower, trim spaces, split on Java \\s+, drop empties."""
    if text is None:
        return []
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" ")) if t]


def _py_grams(text, n):
    toks = _py_tokens(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_ngram_overlap_adversarial_text_matches_bruteforce(spark):
    n = 4
    out = ngram_overlap(_docs(spark, _ADV_CORPUS), _docs(spark, _ADV_BENCH), n=n)
    bench = {i: _py_grams(t, n) for i, t in _ADV_BENCH}
    all_bench = set().union(*bench.values())
    want = []
    for i, t in _ADV_CORPUS:
        g = _py_grams(t, n)
        shared = g & all_bench
        if shared:
            frac = len(shared) / len(g)
            n_bench = sum(1 for bg in bench.values() if bg & g)
            want.append((i, len(g), len(shared), n_bench, frac, frac >= 0.2))
    cols = ["doc_id", "n_grams", "n_shared", "n_bench_docs", "overlap_frac", "severe"]
    assert _rows(out, cols) == sorted(want)
    assert {w[0] for w in want} == {5, 6, 7, 8, 9}


@pytest.mark.parametrize("m_bits", [64, 65536])
def test_bloom_decontaminate_adversarial_text_matches_bruteforce(spark, m_bits):
    n = 4

    def positions(gram):
        h = _md5(gram)
        return [int(h[s - 1 : s + 7], 16) % m_bits for s in BLOOM_HEX_STARTS]

    out = bloom_decontaminate(
        _docs(spark, _ADV_CORPUS), _docs(spark, _ADV_BENCH), n=n, m_bits=m_bits
    )
    bits = {p for _, t in _ADV_BENCH for g in _py_grams(t, n) for p in positions(g)}
    want = []
    for i, t in _ADV_CORPUS:
        g = _py_grams(t, n)
        maybe = sum(1 for x in g if all(p in bits for p in positions(x)))
        if maybe:
            want.append((i, len(g), maybe, maybe / len(g)))
    assert _rows(out, ["doc_id", "n_grams", "n_maybe", "maybe_frac"]) == sorted(want)
    # no false negatives: every exactly-shared doc is flagged
    assert {5, 6, 7, 8, 9} <= {w[0] for w in want}


def test_contamination_eval_split_adversarial_text_matches_bruteforce(spark):
    n = 4
    out = contamination_eval_split(
        _docs(spark, _ADV_CORPUS), _docs(spark, _ADV_BENCH), n=n
    )
    corpus = set().union(*(_py_grams(t, n) for _, t in _ADV_CORPUS))
    want = []
    for i, t in _ADV_BENCH:
        g = _py_grams(t, n)
        dirty = len(g & corpus)
        want.append((i, len(g), dirty, dirty >= 1, dirty / max(len(g), 1)))
    cols = ["doc_id", "n_grams", "n_dirty_grams", "dirty", "dirty_frac"]
    # one row per eval document, including the empty/blank/null ones
    assert _rows(out, cols) == sorted(want)


def test_ngram_novelty_score_adversarial_text_matches_bruteforce(spark):
    n = 3
    out = ngram_novelty_score(_docs(spark, _ADV_CORPUS), n=n)
    grams = {i: _py_grams(t, n) for i, t in _ADV_CORPUS}
    first: dict = {}
    for i in sorted(grams):
        for g in grams[i]:
            first.setdefault(g, i)
    want = []
    for i, g in grams.items():
        if g:
            novel = sum(1 for x in g if first[x] == i)
            frac = novel / len(g)
            want.append((i, len(g), novel, frac, frac < 0.5))
    cols = ["doc_id", "n_grams", "n_novel", "novelty_frac", "is_stale"]
    # zero-gram documents have no row; the repeated-token doc has one gram
    assert _rows(out, cols) == sorted(want)
    assert (5, 1, 1, 1.0, False) in want and (6, 1, 0, 0.0, True) in want
