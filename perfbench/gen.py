"""Seeded input generators for the benchmark.

Three input kinds, each a pure function of (seed, size parameters):

- ``vectors``: clustered unit vectors (the served corpus) plus a pool of
  query vectors drawn near the same cluster centres;
- ``labelled``: raw, unnormalised labelled vectors (the index-build input);
- ``documents``: Zipfian documents with planted near-duplicate clusters,
  exact duplicates, low-quality junk, and an eval set of which a known
  subset of corpus documents carries a passage.

Files land in a cache directory keyed by kind, parameters and seed, so a
second run with the same seed reuses them; generation time is never part
of a measured set-up. Ground truth (cluster membership, planted
contamination, junk ids) is written beside the parquet files as JSON.

Self-test (same seed gives byte-identical files, a different seed gives
different files)::

    python3 perfbench/gen.py --selftest
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
# Row groups per file: lets Spark split one file into parallel tasks.
ROW_GROUPS = 8
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so resizing one input never
    shifts the draws of another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def _write(table: pa.Table, path: str) -> None:
    n = max(table.num_rows, 1)
    pq.write_table(
        table, path, row_group_size=-(-n // ROW_GROUPS), compression="snappy"
    )


def _vec_array(x: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(x, dtype=np.float64).ravel())
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32)), flat
    )


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def gen_vectors(out: str, seed: int, n: int, n_queries: int, clusters: int = 64):
    """corpus.parquet (vec_id, embedding) of ``n`` unit vectors around
    ``clusters`` centres, and queries.npy: ``n_queries`` unit query vectors
    near the same centres (never corpus members)."""
    rng = _rng(seed, "vectors")
    centres = rng.standard_normal((clusters, DIM))
    lab = rng.integers(0, clusters, n)
    x = _unit(centres[lab] + 0.6 * rng.standard_normal((n, DIM)))
    _write(
        pa.table(
            {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": _vec_array(x)}
        ),
        os.path.join(out, "corpus.parquet"),
    )
    qrng = _rng(seed, "queries")
    qlab = qrng.integers(0, clusters, n_queries)
    q = _unit(centres[qlab] + 0.6 * qrng.standard_normal((n_queries, DIM)))
    np.save(os.path.join(out, "queries.npy"), q)


def gen_labelled(out: str, seed: int, n: int, labels: int, n_queries: int):
    """raw.parquet (vec_id, label, embedding): ``n`` unnormalised vectors,
    labels spread evenly over ``labels`` classes, ids shuffled; and
    queries.npy: ``n_queries`` unit query vectors near the class centres."""
    rng = _rng(seed, "labelled")
    centres = 3.0 * rng.standard_normal((labels, DIM))
    lab = np.arange(n) % labels
    rng.shuffle(lab)
    x = centres[lab] + rng.standard_normal((n, DIM))
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "label": pa.array(lab.astype(np.int32)),
                "embedding": _vec_array(x),
            }
        ),
        os.path.join(out, "raw.parquet"),
    )
    qrng = _rng(seed, "queries")
    qlab = qrng.integers(0, labels, n_queries)
    np.save(
        os.path.join(out, "queries.npy"),
        _unit(centres[qlab] + qrng.standard_normal((n_queries, DIM))),
    )


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """Stopwords first (the Zipf head), then random letter words."""
    lens = rng.integers(3, 10, size)
    words = ["".join(rng.choice(LETTERS, k)) for k in lens]
    return np.array(list(STOPWORDS) + words, dtype=object)


def gen_documents(
    out: str,
    seed: int,
    n_docs: int,
    n_clusters: int,
    n_exact: int,
    n_junk: int,
    n_contaminated: int,
    vocab_size: int = 20_000,
    zipf_s: float = 1.1,
    edit_rate: float = 0.02,
):
    """docs.parquet (doc_id, text) with ``n_docs`` rows and eval.parquet
    (doc_id, text); truth.json names the planted structure:

    - ``clusters``: lists of doc ids, a base document and 1-4 copies with
      ``edit_rate`` of their tokens replaced (near duplicates);
    - ``exact``: [original, copy] pairs of verbatim duplicates;
    - ``junk``: ids of digit/symbol documents a quality filter drops;
    - ``contaminated``: ids of documents that embed a 24-token passage of
      an eval document (each passage used once, so they are not near
      duplicates of one another).
    """
    rng = _rng(seed, "documents")
    vocab = _vocab(rng, vocab_size)
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** zipf_s)
    cdf /= cdf[-1]

    def draw(k: int) -> list:
        idx = np.minimum(np.searchsorted(cdf, rng.random(k)), len(vocab) - 1)
        return list(vocab[idx])

    passage_len, passages_per_eval = 24, 4
    n_eval = -(-n_contaminated // passages_per_eval)
    evals = [draw(passage_len * passages_per_eval) for _ in range(n_eval)]

    texts: list[str] = []
    clusters: list[list[int]] = []
    exact: list[list[int]] = []
    junk: list[int] = []
    contaminated: list[int] = []

    for _ in range(n_clusters):
        base = draw(int(rng.integers(30, 60)))
        ids = [len(texts)]
        texts.append(" ".join(base))
        for _ in range(int(rng.integers(1, 5))):
            toks = list(base)
            for pos in np.flatnonzero(rng.random(len(toks)) < edit_rate):
                toks[pos] = vocab[rng.integers(len(STOPWORDS), len(vocab))]
            ids.append(len(texts))
            texts.append(" ".join(toks))
        clusters.append(ids)
    for i in range(n_contaminated):
        e, part = divmod(i, passages_per_eval)
        passage = evals[e][part * passage_len:(part + 1) * passage_len]
        contaminated.append(len(texts))
        texts.append(" ".join(draw(15) + passage + draw(15)))
    symbols = np.array(list("0123456789#$%&*+=/"))
    for _ in range(n_junk):
        junk.append(len(texts))
        chars = symbols[rng.integers(0, len(symbols), int(rng.integers(160, 480)))]
        texts.append(" ".join(
            "".join(chars[i:i + 8]) for i in range(0, len(chars), 8)
        ))
    n_unique = n_docs - len(texts) - n_exact
    if n_unique < 0:
        raise ValueError("planted structure exceeds n_docs")
    for _ in range(n_unique):
        texts.append(" ".join(draw(int(rng.integers(20, 60)))))
    originals = rng.choice(
        np.setdiff1d(
            np.arange(len(texts)),
            np.array(junk + contaminated + [i for c in clusters for i in c]),
        ),
        n_exact,
        replace=False,
    )
    for o in originals:
        exact.append([int(o), len(texts)])
        texts.append(texts[int(o)])

    _write(
        pa.table({"doc_id": pa.array(np.arange(len(texts), dtype=np.int64)), "text": texts}),
        os.path.join(out, "docs.parquet"),
    )
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_eval, dtype=np.int64)),
                "text": [" ".join(t) for t in evals],
            }
        ),
        os.path.join(out, "eval.parquet"),
    )
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(
            {"clusters": clusters, "exact": exact, "junk": junk, "contaminated": contaminated},
            f,
            sort_keys=True,
        )


GENERATORS = {"vectors": gen_vectors, "labelled": gen_labelled, "documents": gen_documents}


def ensure(cache_root: str, kind: str, seed: int, **params) -> str:
    """Directory holding ``kind`` inputs for (seed, params), generated on
    first use. A finished directory is published by rename, so an
    interrupted generation never leaves a half-written cache entry."""
    key = json.dumps({"kind": kind, "seed": seed, **params}, sort_keys=True)
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    out = os.path.join(cache_root, f"{kind}-seed{seed}-{digest}")
    if os.path.isdir(out):
        os.utime(out)  # marks the entry used, for the cache's LRU bound
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[kind](tmp, seed, **params)
    with open(os.path.join(tmp, "params.json"), "w") as f:
        f.write(key)
    os.rename(tmp, out)
    return out


def _digest_dir(path: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(path))
    }


SELFTEST_PARAMS = {
    "vectors": {"n": 2_000, "n_queries": 16},
    "labelled": {"n": 1_000, "labels": 10, "n_queries": 16},
    "documents": {
        "n_docs": 600, "n_clusters": 20, "n_exact": 10,
        "n_junk": 10, "n_contaminated": 8, "vocab_size": 2_000,
    },
}


def selftest(scratch: str) -> list[str]:
    """Generate every kind twice with one seed and once with another, in
    fresh directories; return the failures (empty when deterministic)."""
    failures = []
    shutil.rmtree(scratch, ignore_errors=True)
    for kind, params in SELFTEST_PARAMS.items():
        digests = []
        for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
            d = os.path.join(scratch, f"{kind}-{tag}")
            os.makedirs(d)
            GENERATORS[kind](d, seed, **params)
            digests.append(_digest_dir(d))
        if digests[0] != digests[1]:
            failures.append(f"{kind}: same seed gave different files")
        if any(digests[0][f] == digests[2][f] for f in digests[0]):
            failures.append(f"{kind}: different seeds gave an identical file")
    shutil.rmtree(scratch, ignore_errors=True)
    return failures


if __name__ == "__main__":
    if sys.argv[1:] != ["--selftest"]:
        sys.exit("usage: python3 perfbench/gen.py --selftest")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bad = selftest(os.path.join(root, ".perfbench", "gen-selftest"))
    print("\n".join(bad) if bad else "gen selftest: ok (same seed identical, seeds differ)")
    sys.exit(1 if bad else 0)
