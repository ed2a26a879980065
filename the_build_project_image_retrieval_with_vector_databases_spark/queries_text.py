"""Text-analysis + dedup queries over the ``documents`` table, with
generated DuckDB oracle SQL (north-star extensions, SURVEY §7.2 M4).

The oracle fragments mirror the Spark expressions exactly:
tokenization = regex-split + empty-filter, hashing = md5-hex→int
arithmetic, sums = integer/left-fold — all bit-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup as D
from .operators import textops as T
from .operators.dedup import MINHASH_COEFFS, MINHASH_PRIME
from .operators.sample import HASH_MOD as HASH_MOD_TXT, HASH_MULT as HASH_MULT_TXT
from .operators.textops import LANG_STOPWORDS
from .functions.text import tokens
from .sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# DuckDB fragments
# ---------------------------------------------------------------------------

def _dk_toks(col: str = "text") -> str:
    return (
        f"list_filter(string_split_regex(lower(trim({col})), '\\s+'), "
        "x -> x <> '')"
    )


def _dk_hex2long(h: str) -> str:
    """First 8 hex chars of md5 → bigint; mirrors functions.text.md5_long."""
    return (
        "CAST(list_reduce(list_transform(range(1, 9), "
        f"i -> CAST((strpos('0123456789abcdef', substr({h}, i, 1)) - 1) AS BIGINT)"
        " * CAST(power(16, 8 - i) AS BIGINT)), (a, b) -> a + b) AS BIGINT)"
    )


def _dk_hex15_to_long(h: str) -> str:
    """First 15 hex chars of md5 → bigint via an exact int64 left-fold
    (a·16 + digit); mirrors ``functions.text.md5_long(digits=15)``.
    power()-based digit weights would round through double above 2^53."""
    return (
        "CAST(list_reduce(list_transform(range(1, 16), "
        f"i -> CAST(strpos('0123456789abcdef', substr({h}, i, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b) AS BIGINT)"
    )


def _dk_shingles(toks: str, n: int = 3) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


def _dk_stop_filter(toks: str, words) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> list_contains([{lst}], t)))"


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = T.token_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "mean_token_len",
    )


ORACLE_TOKEN_STATS = f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       (CASE WHEN len(toks) = 0 THEN 0
        ELSE list_reduce(list_transform(toks, t -> length(t)), (a,b) -> a+b)
        END)::DOUBLE / greatest(len(toks), 1) AS mean_token_len
FROM t
"""


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.top_terms(docs, k=20)


ORACLE_TOP_TERMS = f"""
WITH t AS (SELECT {_dk_toks()} AS toks FROM documents),
e AS (SELECT unnest(toks) AS term FROM t)
SELECT term, count(*) AS tf FROM e GROUP BY term
ORDER BY tf DESC, term ASC LIMIT 20
"""


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.tf_idf(docs, min_df=2)


ORACLE_TF_IDF = f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS tf FROM e GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) >= 2),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
       round(tf.tf::DOUBLE * ln((n.n_docs + 1)::DOUBLE / (dfreq.df + 1)::DOUBLE), 6)
         AS tfidf
FROM tf JOIN dfreq USING (term), n
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.language_id(docs)


def _oracle_language_id() -> str:
    score_exprs = ",\n       ".join(
        f"{_dk_stop_filter('toks', LANG_STOPWORDS[lang])}::DOUBLE / "
        f"greatest(len(toks), 1) AS s_{lang}"
        for lang in sorted(LANG_STOPWORDS)
    )
    best = "greatest(" + ", ".join(f"s_{l}" for l in sorted(LANG_STOPWORDS)) + ")"
    case = " ".join(
        f"WHEN s_{l} = best THEN '{l}'" for l in sorted(LANG_STOPWORDS)
    )
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
s AS (SELECT doc_id,
       {score_exprs}
      FROM t),
b AS (SELECT *, {best} AS best FROM s)
SELECT doc_id,
       CASE WHEN best <= 0 THEN 'und' {case} ELSE 'und' END AS pred_lang,
       best AS lang_score
FROM b
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.quality_score(docs)


def _oracle_quality() -> str:
    stop = _dk_stop_filter("toks", LANG_STOPWORDS["en"])
    return f"""
WITH t AS (SELECT doc_id, text, {_dk_toks()} AS toks FROM documents),
m AS (
  SELECT doc_id,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE /
      greatest(length(text), 1) AS alpha_ratio,
    (CASE WHEN len(toks) = 0 THEN 0
     ELSE list_reduce(list_transform(toks, t -> length(t)), (a,b) -> a+b)
     END)::DOUBLE / greatest(len(toks), 1) AS mean_tok_len,
    {stop}::DOUBLE / greatest(len(toks), 1) AS stop_ratio
  FROM t
)
SELECT doc_id, alpha_ratio, mean_tok_len, stop_ratio,
       alpha_ratio * 0.4 +
       (CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0
             THEN 1.0 ELSE 0.5 END) * 0.3 +
       (CASE WHEN stop_ratio > 0.05 THEN 1.0 ELSE 0.6 END) * 0.3
         AS quality
FROM m
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition gate (Rae et al. 2021 §A1.1): top-word
    fraction, duplicated-2-gram fraction, symbol ratio, and the
    published-threshold flag per document — the repetition companion to
    ``quality_score``. One scan, zero shuffles, pure expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return T.gopher_quality(spread(docs))


def _oracle_gopher_quality() -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_dk_toks()} AS toks FROM documents),
m AS (
  SELECT doc_id,
    coalesce(
      list_max(list_transform(list_distinct(toks),
                              d -> len(list_filter(toks, x -> x = d))))::DOUBLE
        / greatest(len(toks), 1), 0.0) AS top_word_frac,
    (CASE WHEN len(toks) >= 2 THEN
       1.0 - len(list_distinct(list_transform(
                list_zip(list_slice(toks, 1, len(toks) - 1),
                         list_slice(toks, 2, len(toks))),
                s -> s[1] || ' ' || s[2])))::DOUBLE / (len(toks) - 1)
     ELSE 0.0 END) AS dup_2gram_frac,
    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
      / greatest(length(text), 1) AS symbol_ratio
  FROM t
)
SELECT doc_id,
       top_word_frac, dup_2gram_frac, symbol_ratio,
       (top_word_frac > 0.2 OR dup_2gram_frac > 0.4 OR symbol_ratio > 0.3)
         AS flagged
FROM m
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.fingerprint(docs)


ORACLE_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, text, {_dk_toks()} AS toks FROM documents),
h AS (SELECT doc_id, text,
        list_transform(toks, tk -> {_dk_hex2long("md5(tk)")}) AS hs
      FROM t)
SELECT doc_id,
       CASE WHEN len(hs) = 0 THEN NULL ELSE list_min(hs) END AS min_token_hash,
       md5(text) AS text_md5
FROM h
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


ORACLE_EXACT_DEDUP = """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, max_df_frac=0.01, min_df_cap=10
    )


def _oracle_jaccard_capped(
    threshold: float = 0.8, max_df_frac: float = 0.01, min_df_cap: int = 10
) -> str:
    """Mirror of the df-capped, hash-keyed ``ngram_jaccard_pairs``:
    shingles → 60-bit md5-prefix ints (same hash ⇒ same collisions as
    Spark), drop shingles with df > max(min_df_cap, ceil(frac·n_docs)),
    Jaccard over the filtered sets."""
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_dk_shingles('toks')}) AS shingle FROM t),
hx AS (SELECT doc_id, {_dk_hex15_to_long('md5(shingle)')} AS h FROM sh),
cap AS (SELECT greatest(CAST({min_df_cap} AS BIGINT),
                        CAST(ceil(CAST({max_df_frac} AS DOUBLE) * count(*)) AS BIGINT))
               AS maxdf FROM documents),
dfreq AS (SELECT h, count(*) AS dfc FROM hx GROUP BY 1),
kept AS (SELECT hx.doc_id, hx.h FROM hx JOIN dfreq USING (h), cap
         WHERE dfc <= cap.maxdf),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
inter AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS n_inter
  FROM kept a JOIN kept b USING (h)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT left_id, right_id,
         n_inter::DOUBLE /
               (sa.n_sh + sb.n_sh - n_inter)::DOUBLE AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = left_id
  JOIN sizes sb ON sb.doc_id = right_id
)
SELECT left_id, right_id, jaccard FROM jac WHERE jaccard >= {threshold}
"""


def _oracle_jaccard(threshold: float = 0.8, lsh: bool = False, bands: int = 4,
                    rows_per_band: int = 2) -> str:
    """All-pairs (blocked by shared shingle) Jaccard; with ``lsh`` adds the
    band-bucket candidate restriction so false negatives match Spark's."""
    base = f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_dk_shingles('toks')}) AS shingle FROM t),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, count(*) AS n_inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT left_id, right_id,
         n_inter::DOUBLE /
               (sa.n_sh + sb.n_sh - n_inter)::DOUBLE AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = left_id
  JOIN sizes sb ON sb.doc_id = right_id
)"""
    if not lsh:
        return base + f"""
SELECT left_id, right_id, jaccard FROM jac WHERE jaccard >= {threshold}
"""
    sig_cols = []
    for i in range(bands * rows_per_band):
        a, b = MINHASH_COEFFS[i]
        sig_cols.append(
            "coalesce(min((x * {a} + {b}) % {p}), {p}) AS mh{i}".format(
                a=a, b=b, p=MINHASH_PRIME, i=i
            )
        )
    key_cols = ", ".join(f"k{r}" for r in range(rows_per_band))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {keys} FROM sig".format(
            b=b,
            keys=", ".join(
                f"mh{b * rows_per_band + r} AS k{r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return base + f""",
xs AS (SELECT doc_id, ({_dk_hex2long('md5(shingle)')}) % {MINHASH_PRIME} AS x FROM sh),
sig0 AS (SELECT doc_id, {', '.join(sig_cols)} FROM xs GROUP BY doc_id),
sig AS (
  SELECT d.doc_id, {', '.join(f'coalesce(s.mh{i}, {MINHASH_PRIME}) AS mh{i}' for i in range(bands * rows_per_band))}
  FROM (SELECT doc_id FROM documents) d LEFT JOIN sig0 s USING (doc_id)
),
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
  FROM banded a JOIN banded b USING (band, {key_cols})
  WHERE a.doc_id < b.doc_id
)
SELECT j.left_id, j.right_id, j.jaccard
FROM jac j JOIN cand USING (left_id, right_id)
WHERE j.jaccard >= {threshold}
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_signatures(
        docs, n=3, num_hashes=8, pinned=D.pins_for(sf_dir)
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Owns the operator's caching contract: the tokenize/signature
    intermediates persist only while the pair table materializes to a
    temp spill, then every block is released (round-2 ADVICE)."""
    from .operators.spill import materialize_and_release

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    pairs = D.minhash_lsh_pairs(
        docs, n=3, num_hashes=8, bands=4, threshold=0.5,
        cache_handles=handles, pinned=D.pins_for(sf_dir),
    )
    return materialize_and_release(pairs, handles, "minhash-pairs-")


# q_simhash / _oracle_simhash retired r13 (registry entry only —
# D.simhash stays the fingerprint engine of simhash_near_dup, whose
# oracle re-derives the identical vote/pack CTE and whose banding is a
# strict superset of the bare-sketch projection; the operator stays
# unit- and fuzz-covered through that row and tests/test_dedup.py).


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM training-data pipeline — the operators above
    chained the way a real corpus run chains them: quality gate
    (composite ≥ 0.7) → exact dedup (keep min-id per content hash) →
    per-language rollup of what survives.

    Fused single-scan shape: quality, predicted language, and token count
    are all *per-row expressions* (``operators.textops.quality_exprs`` /
    ``lang_pred_expr``), so they compute in ONE projection over ONE read
    of the corpus — not three operator DataFrames joined back on doc_id
    (2 scans and 2 shuffles saved vs the naive composition). Remaining
    shuffles: the dedup window keyed by md5(text) and the |langs|-row
    rollup — both uniform. The tokenize materializes in its own
    projection (the CollapseProject rule — see ``doc_shingles``) so the
    regex split runs once per row, not once per expression that
    references the token array. Aggregates are integer-only
    (counts/checksums) — no cross-engine float summation-order hazards."""
    docs = load_table(spark, sf_dir, "documents")
    toked = spread(docs).select(
        "doc_id", "text", tokens("text").alias("__toks")
    )
    pred, _best = T.lang_pred_expr(F.col("__toks"))
    _a, _m, _s, quality = T.quality_exprs(F.col("text"), F.col("__toks"))
    enriched = toked.select(
        "doc_id",
        "text",
        F.size("__toks").alias("n_tokens"),
        pred.alias("pred_lang"),
        quality.alias("quality"),
    )
    kept = enriched.filter(F.col("quality") >= 0.7)
    deduped = D.exact_dedup_keep_first(kept)
    return deduped.groupBy("pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


def _quality_lang_ctes() -> str:
    """Shared CTE scaffolding (tokens → quality components → composite →
    language scores → prediction) used by every oracle that re-derives
    the quality/language per-row expressions — ONE definition so a
    formula tweak can't desynchronize the oracles."""
    stop_en = _dk_stop_filter("toks", LANG_STOPWORDS["en"])
    score_exprs = ",\n       ".join(
        f"{_dk_stop_filter('toks', LANG_STOPWORDS[lang])}::DOUBLE / "
        f"greatest(len(toks), 1) AS s_{lang}"
        for lang in sorted(LANG_STOPWORDS)
    )
    best = "greatest(" + ", ".join(f"s_{l}" for l in sorted(LANG_STOPWORDS)) + ")"
    case = " ".join(
        f"WHEN s_{l} = best THEN '{l}'" for l in sorted(LANG_STOPWORDS)
    )
    return f"""
t AS (SELECT doc_id, text, {_dk_toks()} AS toks FROM documents),
m AS (
  SELECT doc_id,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE /
      greatest(length(text), 1) AS alpha_ratio,
    (CASE WHEN len(toks) = 0 THEN 0
     ELSE list_reduce(list_transform(toks, t -> length(t)), (a,b) -> a+b)
     END)::DOUBLE / greatest(len(toks), 1) AS mean_tok_len,
    {stop_en}::DOUBLE / greatest(len(toks), 1) AS stop_ratio
  FROM t
),
qual AS (
  SELECT doc_id,
         alpha_ratio * 0.4 +
               (CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0
                     THEN 1.0 ELSE 0.5 END) * 0.3 +
               (CASE WHEN stop_ratio > 0.05 THEN 1.0 ELSE 0.6 END) * 0.3
           AS quality
  FROM m
),
s AS (SELECT doc_id, {score_exprs} FROM t),
b AS (SELECT *, {best} AS best FROM s),
lang AS (
  SELECT doc_id,
         CASE WHEN best <= 0 THEN 'und' {case} ELSE 'und' END AS pred_lang
  FROM b
)"""


def _oracle_clean_corpus(threshold: float = 0.7) -> str:
    return f"""
WITH {_quality_lang_ctes()},
kept AS (
  SELECT t.doc_id, t.text, t.toks FROM t JOIN qual USING (doc_id)
  WHERE quality >= {threshold}
),
deduped AS (
  SELECT doc_id, toks FROM (
    SELECT doc_id, toks,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
)
SELECT pred_lang, count(*) AS n_docs,
       CAST(sum(d.doc_id) AS BIGINT) AS id_checksum,
       CAST(sum(len(d.toks)) AS BIGINT) AS total_tokens
FROM deduped d JOIN lang USING (doc_id)
GROUP BY pred_lang
"""


def q_salted_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe token frequency: token counts are Zipf-distributed (the
    hot stopword owns a large share of all rows), so the aggregation runs
    as ``operators.skew.salted_agg_counts`` — stage 1 groups on
    (term, salt(doc_id)) spreading each hot term over 16 reducers, stage 2
    merges the ≤16 partials per term. Result contract: identical to the
    direct ``groupBy(term)`` (the oracle IS the direct form)."""
    from .operators.skew import salted_agg_counts

    docs = load_table(spark, sf_dir, "documents")
    e = (
        spread(docs)
        .select(F.col("doc_id"), F.explode_outer(tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    agg = salted_agg_counts(e, key="term", id_col="doc_id", n_salts=16)
    return agg.orderBy(F.col("n").desc(), F.col("term").asc()).limit(30)


ORACLE_SALTED_TERM_COUNTS = f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t)
SELECT term, count(*) AS n FROM e
GROUP BY term ORDER BY n DESC, term ASC LIMIT 30
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3 via 4×8-bit band rotation —
    the distance-tolerant companion to ``simhash`` (VERDICT r1 item 5).
    r18: the operator no longer persists anything (single-consumer
    fingerprint table after the per-bucket pair expansion replaced the
    banded self-join), so the spill round-trip that released the cache
    handles was pure overhead — the plain plan is returned directly."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(
        docs, bits=32, bands=4, max_hamming=3,
        pinned=D.pins_for(sf_dir),
    )


def _oracle_simhash_near_dup(
    bits: int = 32, bands: int = 4, max_hamming: int = 3
) -> str:
    """Same fingerprint CTE as ``_oracle_simhash``, then the identical
    band-rotation + popcount verify in portable integer arithmetic."""
    band_bits = bits // bands
    votes = ", ".join(
        f"sum(CASE WHEN CAST(floor(x / {1 << j}) AS BIGINT) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    band_vals = ", ".join(str(b) for b in range(bands))
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
xs AS (SELECT doc_id, {_dk_hex2long('md5(tok)')} AS x FROM e),
v AS (SELECT doc_id, {votes} FROM xs GROUP BY doc_id),
f AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM v),
sh AS (SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash
       FROM (SELECT doc_id FROM documents) d LEFT JOIN f USING (doc_id)),
bandd AS (
  SELECT doc_id, simhash, band,
         CAST(floor(simhash / power(2, band * {band_bits})) AS BIGINT)
           % {1 << band_bits} AS bkey
  FROM sh CROSS JOIN (SELECT unnest([{band_vals}]) AS band) bs
),
cand AS (
  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id,
                  a.simhash AS fp_l, b.simhash AS fp_r
  FROM bandd a JOIN bandd b USING (band, bkey)
  WHERE a.doc_id < b.doc_id
)
SELECT left_id, right_id, CAST(bit_count(xor(fp_l, fp_r)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fp_l, fp_r)) <= {max_hamming}
"""


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts per document (corpus costing)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_token_counts(docs)


# The ONE SQL spelling of textops.BPE_PATTERN for every DuckDB mirror
# (r15 ADVICE: three hand-spelled copies had drifted into two escape
# styles). Standard SQL string literals keep backslashes literal, so
# the raw Python pattern interpolates verbatim — '\t' in the literal
# reaches DuckDB's regex engine as the two-char escape, exactly what
# Spark's regexp_extract_all sees from the same constant.
_BPE_PATTERN_SQL = T.BPE_PATTERN
assert "'" not in _BPE_PATTERN_SQL  # must stay embeddable in a literal

ORACLE_BPE_TOKEN_COUNTS = f"""
WITH t AS (
  SELECT doc_id,
         len({_dk_toks()}) AS n_words,
         len(regexp_extract_all(lower(text),
                                '{_BPE_PATTERN_SQL}'))
           AS n_bpe_tokens
  FROM documents
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       CAST(n_bpe_tokens AS INT) AS n_bpe_tokens,
       CAST(n_bpe_tokens AS DOUBLE) /
             CAST(greatest(n_words, 1) AS DOUBLE) AS tokens_per_word
FROM t
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERS: MinHash-LSH near-dup pairs → connected components
    (min-label propagation + pointer jumping, O(log n) rounds on any
    topology, per-round parquet checkpoint — ``operators.graph``) → one
    representative + member roster per cluster. The oracle re-derives the
    same components via a recursive-CTE transitive closure — cross-engine
    agreement on an iterative algorithm's fixpoint."""
    from .operators.graph import dedup_components

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.5, cache_handles=handles, pinned=D.pins_for(sf_dir)
    )
    out = dedup_components(pairs)  # materializes labels during the call
    for h in handles:
        h.unpersist()
    return out


def _dedup_components_ctes() -> str:
    """The recursive-CTE transitive-closure body shared by the
    registered components oracle and the staged cluster-stats oracle
    (one spelling — the BPE_PATTERN lesson applied to SQL)."""
    pairs_sql = _oracle_jaccard(0.5, lsh=True)
    return f"""edges AS (SELECT left_id, right_id FROM ({pairs_sql})),
und AS (
  SELECT left_id AS a, right_id AS b FROM edges
  UNION
  SELECT right_id, left_id FROM edges
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
comp AS (
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
)"""


def _oracle_dedup_components() -> str:
    return f"""
WITH RECURSIVE
{_dedup_components_ctes()}
SELECT component, count(*) AS n_docs,
       CAST(sum(node) AS BIGINT) AS id_checksum
FROM comp GROUP BY component
"""


def q_top_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (N-per-group): 3 highest-quality docs per predicted
    language — plans as two-phase ``WindowGroupLimit`` (≤3 rows per group
    per map partition shuffle), same shape as the kNN join rank."""
    docs = load_table(spark, sf_dir, "documents")
    toked = spread(docs).select("doc_id", "text", tokens("text").alias("__toks"))
    pred, _ = T.lang_pred_expr(F.col("__toks"))
    _a, _m, _s, quality = T.quality_exprs(F.col("text"), F.col("__toks"))
    scored = toked.select(
        "doc_id", pred.alias("pred_lang"), quality.alias("quality")
    )
    w = Window.partitionBy("pred_lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("pred_lang", "rank", "doc_id", "quality")
    )


def _oracle_top_docs_per_lang() -> str:
    return f"""
WITH {_quality_lang_ctes()},
ranked AS (
  SELECT l.pred_lang, q.doc_id, q.quality,
         row_number() OVER (PARTITION BY l.pred_lang
                            ORDER BY q.quality DESC, q.doc_id ASC) AS rank
  FROM qual q JOIN lang l USING (doc_id)
)
SELECT pred_lang, CAST(rank AS INT) AS rank, doc_id, quality
FROM ranked WHERE rank <= 3
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id ≥ 20) sharing word
    4-grams with the 'benchmark' slice (doc_id < 20). The benchmark gram
    set broadcasts; the corpus never shuffles — the only exchange is the
    per-doc hit aggregate (operators/decontam.py for the 100 TB audit)."""
    from .operators.decontam import ngram_overlap

    docs = load_table(spark, sf_dir, "documents")
    # spread: the fixture is one parquet split — without it the whole
    # shingle+hash pass serializes onto one core (no-op on real inputs)
    corpus = spread(docs).filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    return ngram_overlap(corpus, bench, n=4, min_hits=1, severe_frac=0.2)


def _oracle_decontaminate(n: int = 4, severe_frac: float = 0.2) -> str:
    """Mirror: shingles → 60-bit md5-prefix ints (same hash, same
    collisions), benchmark grams distinct, per-corpus-doc hit stats."""
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_dk_shingles('toks', n)}) AS shingle FROM t),
hx AS (SELECT doc_id, {_dk_hex15_to_long('md5(shingle)')} AS h FROM sh),
bench AS (SELECT DISTINCT doc_id AS bench_id, h FROM hx WHERE doc_id < 20),
corpus AS (SELECT doc_id, h FROM hx WHERE doc_id >= 20),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
hits AS (
  SELECT c.doc_id,
         count(DISTINCT c.h) AS n_shared,
         count(DISTINCT b.bench_id) AS n_bench_docs
  FROM corpus c JOIN bench b USING (h)
  GROUP BY 1
)
SELECT h.doc_id, s.n_grams, h.n_shared, h.n_bench_docs,
       h.n_shared::DOUBLE / s.n_grams::DOUBLE AS overlap_frac,
       h.n_shared::DOUBLE / s.n_grams::DOUBLE >= {severe_frac}
         AS severe
FROM hits h JOIN sizes s USING (doc_id)
"""


# token_histogram retired r11 (one-for-one with the hard_negatives
# registration — write-ahead candidate #3): its width-10 length
# histogram was a strict projection of token_stats' per-doc token
# surface, which remains registered.


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional (multinomial) document sampling
    — 8 probes drawn ∝ n_chars by integer inverse-CDF (operators/
    sample.py::weighted_multinomial_sample). The running sum is built
    two-phase (bucket subtotals + partitioned windows), never a
    single-task global window; probes broadcast. The training-mix
    sampling primitive (sample docs ∝ token budget)."""
    from .operators.sample import weighted_multinomial_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_multinomial_sample(
        docs, id_col="doc_id", weight_col="n_chars", n_probes=8
    )


ORACLE_WEIGHTED_SAMPLE = f"""
WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents),
cum AS (SELECT doc_id, wt, sum(wt) OVER (ORDER BY doc_id) AS hi FROM w),
tot AS (SELECT sum(wt) AS total FROM w),
probes AS (
  SELECT t.j AS probe,
         ({_dk_hex2long("md5('ws' || CAST(t.j AS VARCHAR))")}) % total AS u
  FROM range(8) t(j), tot
)
SELECT p.probe, c.doc_id, c.wt AS weight
FROM cum c JOIN probes p ON p.u >= c.hi - c.wt AND p.u < c.hi
"""


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (C4-style repeated-span removal):
    documents chunk into non-overlapping 20-token passages, passages
    repeated anywhere in the corpus are reported with occurrence counts
    and the keeper doc. Catches boilerplate and partial copies that
    whole-document hashing misses.

    Scale shape: chunking is a per-row expression (sequence + slice —
    no UDF); the single shuffle is keyed by the 60-bit passage hash
    (uniform by construction, map-side partial agg), so the wire carries
    (hash, partial-count) pairs, never passage text."""
    from .functions.text import md5_long

    # the tokenize runs in its own projection (the doc_shingles rule):
    # inline, the slice lambda below would re-split the text per passage
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", tokens("text").alias("__toks")
    )
    toks = F.col("__toks")
    # Zero-token documents emit NO passages (fuzz-caught: the old
    # greatest(size, 1) floor manufactured an empty-string passage that
    # Spark hashed while DuckDB's list_slice-of-empty folded to NULL).
    # The when() guard also keeps sequence() away from its descending
    # start>stop trap.
    starts = F.when(
        F.size(toks) >= 1, F.sequence(F.lit(1), F.size(toks), F.lit(20))
    ).otherwise(F.array().cast("array<int>"))
    passage = F.explode(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, 20)))
    )
    p = docs.select("doc_id", passage.alias("passage"))
    return (
        p.select("doc_id", md5_long(F.col("passage"), digits=15).alias("passage_h"))
        .groupBy("passage_h")
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_occ") > 1)
    )


ORACLE_PASSAGE_DEDUP = f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
p AS (
  SELECT doc_id,
         array_to_string(list_slice(toks, i, i + 19), ' ') AS passage
  FROM t, unnest(range(1, len(toks) + 1, 20)) AS u(i)
),
h AS (SELECT doc_id, {_dk_hex15_to_long('md5(passage)')} AS passage_h FROM p)
SELECT passage_h, count(*) AS n_occ,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS keep_id
FROM h GROUP BY 1 HAVING count(*) > 1
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest near-dup check: the 'new batch' (doc_id ≥ 450)
    against the existing corpus (doc_id < 450) via incremental
    MinHash-LSH — batch × corpus band join only, never corpus × corpus
    (operators/dedup.py::minhash_lsh_incremental). The index-maintenance
    story for dedup, mirroring ``append_to_ivf_index`` on the ANN side.
    Spill-and-release per the dedup cache contract."""
    from .operators.spill import materialize_and_release

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 450)
    batch = docs.filter(F.col("doc_id") >= 450)
    handles: list = []
    out = D.minhash_lsh_incremental(
        corpus, batch, n=3, num_hashes=8, bands=4, threshold=0.5,
        cache_handles=handles, pinned=D.pins_for(sf_dir),
    )
    return materialize_and_release(out, handles, "incr-dedup-")


def _oracle_incremental_dedup(threshold: float = 0.5) -> str:
    """The full-pairs LSH oracle restricted to cross-boundary pairs:
    corpus ids all sort below batch ids, so (left < 450 ≤ right) selects
    exactly the corpus × batch candidate set the incremental join sees."""
    inner = _oracle_jaccard(threshold, lsh=True)
    return f"""
SELECT left_id AS corpus_id, right_id AS batch_id, jaccard
FROM ({inner})
WHERE left_id < 450 AND right_id >= 450
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix assembly: a 60-doc budget split 50/30/20 across three
    sources, drawn in the engine's deterministic surrogate order
    (operators/sample.py::mixture_sample). Share-0 sources are filtered
    at the scan; one source-keyed window shuffle."""
    from .operators.sample import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(
        docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, budget=60
    )


ORACLE_MIXTURE_SAMPLE = f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ((doc_id + 42) * {HASH_MULT_TXT}) % {HASH_MOD_TXT} ASC,
                    doc_id ASC) AS mix_rank,
         CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 18
                     WHEN 'src2' THEN 12 ELSE 0 END AS quota
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2')
)
SELECT source, doc_id, CAST(mix_rank AS INT) AS mix_rank
FROM ranked WHERE mix_rank <= quota
"""


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing profile: documents concatenate in doc_id
    order into one token stream chunked every 512 tokens (the GPT-style
    training layout); per chunk, how many documents start there and how
    many tokens they contribute. The running offset is the TWO-PHASE
    bucketed cumsum (`operators/batching.py::pack_sequences`) — bucket
    subtotals through a #buckets-row window, within-bucket cumsums
    partition-parallel; no global single-task window at any corpus size."""
    from .operators.batching import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    packed = pack_sequences(docs, n_tok, window=512, id_col="doc_id")
    return packed.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("start_offset").alias("first_offset"),
    )


ORACLE_SEQ_PACKING = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_dk_toks()}) AS BIGINT) AS n FROM documents
),
c AS (
  SELECT doc_id, n,
         sum(n) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n AS start_offset
  FROM t
)
SELECT CAST(floor(start_offset / 512) AS BIGINT) AS bin,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(min(start_offset) AS BIGINT) AS first_offset
FROM c GROUP BY 1
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction at the query surface (operators.textops.pii_scrub):
    typed placeholders + per-class audit counts + clean-text md5 over
    the documents table. Registered in r7 (property + staged-oracle tests in
    tests/test_staged_ops.py).
    """
    from .operators.textops import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    return pii_scrub(docs)


def _oracle_pii_scrub() -> str:
    """Mirror of pii_scrub: the same patterns (Java regex ∩ RE2 —
    portable character classes only), the same chained rewrite order,
    the same placeholder-delta hit counting."""
    from .operators.textops import PII_PATTERNS

    ctes = ["s0 AS (SELECT doc_id, text AS t0 FROM documents)"]
    count_cols = []
    for i, (name, pat, token) in enumerate(PII_PATTERNS):
        prev, cur = f"t{i}", f"t{i + 1}"
        ctes.append(
            f"s{i + 1} AS (SELECT *, "
            f"regexp_replace({prev}, '{pat}', '{token}', 'g') AS {cur} "
            f"FROM s{i})"
        )
        ph_prev = (
            f"(length({prev}) - length(regexp_replace({prev}, '{token}', '', 'g')))"
        )
        ph_cur = (
            f"(length({cur}) - length(regexp_replace({cur}, '{token}', '', 'g')))"
        )
        count_cols.append(
            f"CAST(({ph_cur} - {ph_prev}) / {len(token)} AS INT) AS n_{name}"
        )
    last = f"t{len(PII_PATTERNS)}"
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT doc_id, {last} AS clean_text,\n       "
        + ",\n       ".join(count_cols)
        + f",\n       md5({last}) AS clean_md5\nFROM s{len(PII_PATTERNS)}"
    )


BM25_TERMS = ["hash", "join", "vector"]
BM25_K = 15
BM25_K1 = 1.2
BM25_B = 0.75


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k lexical retrieval (operators.textops.bm25) for a fixed
    3-term query over documents. Registered in r7 (property + staged-oracle tests in
    tests/test_staged_ops.py).
    """
    from .operators.textops import bm25

    docs = load_table(spark, sf_dir, "documents")
    return bm25(docs, BM25_TERMS, k=BM25_K, k1=BM25_K1, b=BM25_B)


def _oracle_bm25() -> str:
    """Mirror of operators.textops.bm25, float-op-for-float-op: same
    tokenize, per-term tfs as list_filter lengths, ONE global stats row,
    the identical parenthesized score expression (left-to-right term
    sum, Lucene positive idf), same (score DESC, doc_id) top-k on the
    score ROUNDED to 6 decimals (ln is only 1-ulp-reproducible across
    engines — the tf_idf kept-rounded class). Float literals are
    repr()s of the exact Python doubles the Spark side uses, so both
    engines parse the same IEEE values."""
    terms = BM25_TERMS
    k1, b = BM25_K1, BM25_B
    omb = repr(1.0 - b)  # 1-b, computed in Python exactly as Spark's lit
    k1p1 = repr(k1 + 1.0)
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    avgdl = "((g.sum_dl::DOUBLE) / (g.n_docs::DOUBLE))"
    norm = f"({k1!r} * ({omb} + (({b!r} * (p.dl::DOUBLE)) / {avgdl})))"
    s_exprs = []
    for i in range(len(terms)):
        idf = (
            f"ln((((g.n_docs::DOUBLE) - (g.df_{i}::DOUBLE)) + 0.5)"
            f" / ((g.df_{i}::DOUBLE) + 0.5) + 1.0)"
        )
        s_exprs.append(
            f"({idf} * (((p.tf_{i}::DOUBLE) * {k1p1})"
            f" / ((p.tf_{i}::DOUBLE) + {norm})))"
        )
    score = s_exprs[0]
    for s in s_exprs[1:]:
        score = f"({score} + {s})"
    n_hit = " + ".join(
        f"CASE WHEN p.tf_{i} > 0 THEN 1 ELSE 0 END" for i in range(len(terms))
    )
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
p AS (SELECT doc_id, len(toks) AS dl,
         {tf_cols}
      FROM t),
g AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         {df_cols}
      FROM p)
SELECT doc_id, dl, n_hit_terms, score FROM (
  SELECT p.doc_id, p.dl,
         CAST(({n_hit}) AS INT) AS n_hit_terms,
         round({score}, 6) AS score
  FROM p, g
) WHERE n_hit_terms > 0
ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
"""


def q_vocab_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-pruned corpus rewrite — the classic preprocessing pass:
    drop tokens that are near-stopwords (document frequency > 50% of the
    corpus) or too rare (df < 3 docs), keep every survivor in original
    position order, and fingerprint the cleaned text with md5 so the
    rewrite is value-checked, not just counted.

    Scale shape: df counts aggregate over DISTINCT (doc, token) pairs
    (map-side partial); the kept-vocabulary table is tiny (vocab-sized)
    and broadcasts into the positional token join; reassembly is ONE
    shuffle keyed by doc_id with the order carried by the position
    column. No UDFs anywhere — sort_array over (pos, token) structs
    restores order inside the aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    n_docs_df = docs.agg(F.count("*").alias("_nd"))
    vocab = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(n_docs_df))
        .filter((F.col("df") >= 3) & (F.col("df") * 2 <= F.col("_nd")))
        .select("tok")
    )
    kept = toks.join(F.broadcast(vocab), "tok")
    assembled = kept.groupBy("doc_id").agg(
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
    )
    sizes = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return sizes.join(assembled, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_hash", F.md5(F.lit(""))).alias("kept_hash"),
    )


ORACLE_VOCAB_FILTER = f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
fan AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
  FROM t
),
tok AS (SELECT doc_id, pos, toks[pos] AS tok FROM fan),
df AS (
  SELECT tok, count(*) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY tok
),
nd AS (SELECT count(*) AS n_docs FROM documents),
vocab AS (
  SELECT tok FROM df, nd WHERE df >= 3 AND df * 2 <= n_docs
),
kept AS (
  SELECT k.doc_id, count(*) AS n_kept,
         md5(string_agg(k.tok, ' ' ORDER BY k.pos)) AS kept_hash
  FROM tok k JOIN vocab v USING (tok)
  GROUP BY k.doc_id
)
SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(k.kept_hash, md5('')) AS kept_hash
FROM t LEFT JOIN kept k USING (doc_id)
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster REPRESENTATIVE selection by quality — the step a
    real corpus pipeline runs after clustering: for every MinHash-LSH
    connected component, keep the HIGHEST-QUALITY member (ties → lowest
    doc_id), not merely the lowest id. Output one row per cluster:
    (component, n_docs, keep_id, keep_quality). Quality is the
    engine's composite ratio score (raw-double arithmetic — bit-exact
    cross-engine); the component labels are the min-label fixpoint of
    `operators.graph.connected_components` and the oracle re-derives
    them with a recursive-CTE transitive closure, then replays the same
    window argmax. STAGED for the r8 verification window — oracle
    parity-tested in tests/test_staged_ops.py so registration is a
    2-line diff. Spill-and-release per the dedup cache contract."""
    from .operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.5, cache_handles=handles, pinned=D.pins_for(sf_dir)
    )
    labels = connected_components(pairs)  # (node, comp) — plain file scan
    for h in handles:
        h.unpersist()
    toked = spread(docs).select(
        "doc_id", "text", tokens("text").alias("__toks")
    )
    _a, _m, _s, quality = T.quality_exprs(F.col("text"), F.col("__toks"))
    scored = toked.select("doc_id", quality.alias("quality"))
    joined = labels.join(
        scored, labels["node"] == scored["doc_id"]
    ).select("comp", "doc_id", "quality")
    w = Window.partitionBy("comp").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .withColumn("n_docs", F.count("*").over(Window.partitionBy("comp")))
        .filter(F.col("rank") == 1)
        .select(
            F.col("comp").alias("component"),
            F.col("n_docs"),
            F.col("doc_id").alias("keep_id"),
            F.col("quality").alias("keep_quality"),
        )
    )


def _oracle_dedup_keep_best() -> str:
    """Components transitive closure (same CTE chain as
    _oracle_dedup_components) × the shared quality CTEs × the identical
    window argmax (quality DESC, doc_id ASC)."""
    pairs_sql = _oracle_jaccard(0.5, lsh=True)
    return f"""
WITH RECURSIVE
{_quality_lang_ctes()},
edges AS (SELECT left_id, right_id FROM ({pairs_sql})),
und AS (
  SELECT left_id AS a, right_id AS b FROM edges
  UNION
  SELECT right_id, left_id FROM edges
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
comp AS (
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
),
sel AS (
  SELECT c.component, q.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, q.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.component) AS n_docs
  FROM comp c JOIN qual q ON q.doc_id = c.node
)
SELECT component, CAST(n_docs AS BIGINT) AS n_docs,
       doc_id AS keep_id, quality AS keep_quality
FROM sel WHERE rn = 1
"""


def q_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH banding against the exact near-dup
    ground truth — the bands×rows tuning measurement for the dedup
    family (the twin of the staged `ann_recall_eval` on the ANN side).
    Ground truth: ALL pairs with true Jaccard ≥ 0.5 via the
    shingle-blocked exact join (exhaustive — a J ≥ 0.5 pair necessarily
    shares a shingle); candidate set: the banded 8-hash/4-band
    MinHash-LSH pipeline (verified pairs). One summary row:
    (n_exact, n_lsh, n_hit, recall, precision) — counts are integers,
    the ratios raw int/int doubles. STAGED for the r8 verification
    window — oracle parity-tested in tests/test_staged_ops.py so
    registration is a 2-line diff."""
    from .operators.spill import materialize_and_release

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    # r17 note: sharing ONE persisted doc_shingles table across both
    # pipelines (exact + LSH) was A/B-measured and REJECTED — 2.6-3.5 s
    # → 3.3-4.8 s isolated. The exact side's self-join gets side b for
    # free via AQE exchange reuse, so the shared persist only ADDED the
    # cache materialization of the full shingle arrays without removing
    # a real pass (the ngram_jaccard r12 lesson, re-measured here).
    exact = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select(
        "left_id", "right_id"
    )
    lsh = D.minhash_lsh_pairs(
        docs, n=3, num_hashes=8, bands=4, threshold=0.5,
        cache_handles=handles, pinned=D.pins_for(sf_dir),
    ).select("left_id", "right_id")
    e = exact.withColumn("__e", F.lit(1))
    l = lsh.withColumn("__l", F.lit(1))
    m = e.join(l, ["left_id", "right_id"], "full").agg(
        F.count(F.col("__e")).alias("n_exact"),
        F.count(F.col("__l")).alias("n_lsh"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1)).alias("n_hit"),
    )
    out = m.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_lsh").cast("long").alias("n_lsh"),
        F.col("n_hit").cast("long").alias("n_hit"),
        (
            F.col("n_hit").cast("double")
            / F.greatest(F.col("n_exact"), F.lit(1)).cast("double")
        ).alias("recall"),
        (
            F.col("n_hit").cast("double")
            / F.greatest(F.col("n_lsh"), F.lit(1)).cast("double")
        ).alias("precision"),
    )
    return materialize_and_release(out, handles, "dedup-recall-")


def _oracle_dedup_recall_eval() -> str:
    """Exact pairs = the shingle-blocked all-pairs Jaccard oracle at
    τ=0.5; LSH pairs = the banded oracle; full-outer counts + int/int
    ratios mirrored op-for-op."""
    exact_sql = _oracle_jaccard(0.5, lsh=False)
    lsh_sql = _oracle_jaccard(0.5, lsh=True)
    return f"""
WITH e AS (SELECT left_id, right_id FROM ({exact_sql})),
l AS (SELECT left_id, right_id FROM ({lsh_sql})),
m AS (
  SELECT count(e.left_id) AS n_exact, count(l.left_id) AS n_lsh,
         count(CASE WHEN e.left_id IS NOT NULL AND l.left_id IS NOT NULL
                    THEN 1 END) AS n_hit
  FROM e FULL OUTER JOIN l USING (left_id, right_id)
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_hit AS BIGINT) AS n_hit,
       (n_hit::DOUBLE) / (greatest(n_exact, 1)::DOUBLE) AS recall,
       (n_hit::DOUBLE) / (greatest(n_lsh, 1)::DOUBLE) AS precision
FROM m
"""


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12, paired one-for-one with the split_counts
    retirement (staged r11 with 3-SF oracle parity + fuzz coverage in
    tests/test_staged_ops.py / test_fuzz_oracle.py).

    DSIR importance selection (Xie et al. 2023): rank corpus documents by
    hashed-n-gram log importance weight toward the English target
    distribution (``lang = 'en'`` rows are the in-corpus target sample),
    top 40 by (score DESC, doc_id).  The training-mix SELECTION pass —
    the quality-weighting counterpart of mixture_sample's quota assembly.

    Scale shape: one tokenize/gram pass (persisted via the dedup-family
    cache contract), ≤4096-row statistics aggregates (map-side partial),
    λ table broadcast back onto the gram stream, ONE corpus shuffle
    (doc_id, map-side partial), TakeOrderedAndProject top-k."""
    from .operators.mixing import dsir_importance
    from .operators.spill import materialize_and_release

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    out = dsir_importance(
        docs,
        F.col("lang") == "en",
        k=40,
        cache_handles=handles,
    )
    return materialize_and_release(out, handles, "dsir-")


ORACLE_DSIR_IMPORTANCE = f"""
WITH t AS (SELECT doc_id, lang, {_dk_toks()} AS toks FROM documents),
g AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         unnest(list_concat(toks,
           list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
             i -> array_to_string(list_slice(toks, i, i + 1), ' ')))) AS gram
  FROM t
),
b AS (SELECT doc_id, is_t,
             ({_dk_hex15_to_long('md5(gram)')}) % 4096 AS bkt
      FROM g),
c AS (SELECT bkt, count(*) AS rc,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc
      FROM b GROUP BY 1),
tot AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM c),
lam AS (
  SELECT bkt,
         CAST(round(ln( ((c.tc + 1)::DOUBLE / (tot.ttot + 4096)::DOUBLE)
                      / ((c.rc + 1)::DOUBLE / (tot.rtot + 4096)::DOUBLE) )
                    * 1000000.0) AS BIGINT) AS lam_q
  FROM c, tot
),
s AS (SELECT doc_id, count(*) AS n_grams,
             CAST(sum(lam_q) AS BIGINT) AS score_q
      FROM b JOIN lam USING (bkt) GROUP BY 1)
SELECT doc_id, n_grams, score_q FROM s
ORDER BY score_q DESC, doc_id ASC LIMIT 40
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12, paired one-for-one with the knn_display
    retirement (staged r11 with 3-SF oracle parity + fuzz coverage in
    tests/test_staged_ops.py / test_fuzz_oracle.py).

    CCNet-style perplexity filter (Wenzek et al. 2020): every document
    scored by average per-token NLL under the corpus hashed-unigram LM,
    bucketed head/middle/tail at the within-language terciles — the
    quality-slice assignment CCNet feeds its keep-head+middle rule.

    Scale shape: one tokenize pass (dedup-family cache contract),
    ≤4096-row LM broadcast, ONE corpus shuffle (doc_id), exact
    per-language percentile cuts (value_quantiles precedent; KLL
    approx_percentile is the production path), broadcast cuts join."""
    from .operators.mixing import ccnet_perplexity_buckets
    from .operators.spill import materialize_and_release

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    out = ccnet_perplexity_buckets(docs, cache_handles=handles)
    return materialize_and_release(out, handles, "pplbkt-")


ORACLE_PERPLEXITY_BUCKETS = f"""
WITH t AS (SELECT doc_id, lang, {_dk_toks()} AS toks FROM documents),
tk AS (SELECT doc_id, lang,
              ({_dk_hex15_to_long('md5(tok)')}) % 4096 AS bkt
       FROM t, unnest(toks) AS u(tok)),
lm AS (SELECT bkt, count(*) AS cnt FROM tk GROUP BY 1),
lam AS (
  SELECT bkt,
         CAST(round(-ln((cnt)::DOUBLE
                        / ((SELECT sum(cnt) FROM lm))::DOUBLE)
                    * 1000000.0) AS BIGINT) AS lam_q
  FROM lm
),
s AS (SELECT doc_id, lang, count(*) AS n_tokens,
             CAST(sum(lam_q) AS BIGINT) AS nll_q
      FROM tk JOIN lam USING (bkt) GROUP BY 1, 2),
s2 AS (SELECT doc_id, lang, n_tokens,
              (nll_q * 1000) // n_tokens AS avg_nll_q
       FROM s),
cuts AS (SELECT lang,
                quantile_cont(avg_nll_q, 0.3333333333333333) AS c1,
                quantile_cont(avg_nll_q, 0.6666666666666666) AS c2
         FROM s2 GROUP BY 1)
SELECT s2.doc_id, s2.lang, s2.n_tokens, s2.avg_nll_q,
       CASE WHEN s2.avg_nll_q::DOUBLE <= c.c1 THEN 'head'
            WHEN s2.avg_nll_q::DOUBLE <= c.c2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM s2 JOIN cuts c USING (lang)
"""


TM_BUDGET = 120


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r13 per the write-ahead plan (staged r12; paired
    with the ``simhash`` retirement from the r11-checked half).

    Temperature-scaled mix assembly (operators/mixing.py::
    temperature_mix, α = 1/2, budget 120): per-source quotas ∝ √n_s
    with integer largest-remainder allocation — the
    sampling-temperature rule multilingual corpora use instead of
    hand-curated shares. Quotas derive from the data (one tiny count
    aggregate), so the oracle re-derives them and the hash-ordered
    selection identically."""
    from .operators.mixing import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(docs, TM_BUDGET)


def _oracle_temperature_mix(budget: int = TM_BUDGET, seed: int = 42) -> str:
    """Mirror of temperature_mix: floor(sqrt(n)) weights (one IEEE
    sqrt — correctly rounded, engine-identical), integer
    largest-remainder quotas (// on non-negatives ≡ Spark's
    floor-of-double-division), multiplicative-hash rank order."""
    return f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
w AS (SELECT source, n,
             CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) AS wgt
      FROM counts),
tot AS (SELECT sum(wgt) AS tw FROM w),
q0 AS (SELECT source, n, ({budget} * wgt) // tot.tw AS base,
              ({budget} * wgt) % tot.tw AS rem
       FROM w, tot),
lo AS (SELECT {budget} - sum(base) AS leftover FROM q0),
q1 AS (SELECT source, n,
              base + CASE WHEN row_number()
                            OVER (ORDER BY rem DESC, source ASC)
                          <= lo.leftover THEN 1 ELSE 0 END AS quota
       FROM q0, lo),
r AS (SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY ((doc_id + {seed}) * {HASH_MULT_TXT})
                          % {HASH_MOD_TXT} ASC, doc_id ASC) AS rk
      FROM documents)
SELECT r.source, r.doc_id, CAST(r.rk AS INT) AS mix_rank,
       CAST(q1.quota AS BIGINT) AS quota, CAST(q1.n AS BIGINT) AS n_source
FROM r JOIN q1 USING (source)
WHERE r.rk <= q1.quota
"""


PC_WINDOW, PC_STRIDE = 32, 24


def q_passage_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r13 per the write-ahead plan (staged r12; paired
    with the ``label_counts`` retirement from the r11-checked half).

    Overlapping token-window chunking (operators/textops.py::
    passage_chunks, window 32 / stride 24): the RAG-retrieval and
    long-context-pretraining splitter — every token lands in ≥ 1
    chunk, consecutive chunks share 8 tokens. Zero-shuffle codegen'd
    projection chain; the oracle re-derives the chunk count's integer
    ceil and each slice/join identically."""
    from .operators.textops import passage_chunks

    docs = load_table(spark, sf_dir, "documents")
    return passage_chunks(docs, window=PC_WINDOW, stride=PC_STRIDE)


def _oracle_passage_chunking(
    window: int = PC_WINDOW, stride: int = PC_STRIDE
) -> str:
    """Mirror of passage_chunks: same tokenizer, the same
    non-negative (extra + stride − 1) // stride ceil (Spark div and
    DuckDB // agree on non-negatives), inclusive-index list_slice."""
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS L FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, toks,
             unnest(range(0,
               1 + (greatest(0, L - {window}) + {stride - 1}) // {stride}
             )) AS chunk_id
      FROM s)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(list_slice(toks, chunk_id * {stride} + 1,
                           chunk_id * {stride} + {window})) AS INT)
         AS n_tokens,
       array_to_string(list_slice(toks, chunk_id * {stride} + 1,
                                  chunk_id * {stride} + {window}), ' ')
         AS chunk_text
FROM c
"""


TEXT_QUERIES = {
    "language_id": q_language_id,
    "gopher_quality": q_gopher_quality,
    "ngram_jaccard_dedup": q_ngram_jaccard,
    "minhash_lsh_dedup": q_minhash_lsh,
    "simhash_near_dup": q_simhash_near_dup,
    "salted_term_counts": q_salted_term_counts,
    "clean_corpus": q_clean_corpus,
    "dedup_components": q_dedup_components,
    "bpe_token_counts": q_bpe_token_counts,
    "top_docs_per_lang": q_top_docs_per_lang,
    "weighted_sample": q_weighted_sample,
    "seq_packing": q_seq_packing,
    "vocab_filter": q_vocab_filter,
    "pii_scrub": q_pii_scrub,
    "bm25": q_bm25,
    "dedup_keep_best": q_dedup_keep_best,
    "dedup_recall_eval": q_dedup_recall_eval,
    "dsir_importance": q_dsir_importance,
    "perplexity_buckets": q_perplexity_buckets,
    "temperature_mix": q_temperature_mix,
    "passage_chunking": q_passage_chunking,
}

TEXT_ORACLES = {
    "language_id": _oracle_language_id(),
    "gopher_quality": _oracle_gopher_quality(),
    "ngram_jaccard_dedup": _oracle_jaccard_capped(0.8, 0.01, 10),
    "minhash_lsh_dedup": _oracle_jaccard(0.5, lsh=True),
    "simhash_near_dup": _oracle_simhash_near_dup(32, 4, 3),
    "salted_term_counts": ORACLE_SALTED_TERM_COUNTS,
    "clean_corpus": _oracle_clean_corpus(0.7),
    "dedup_components": _oracle_dedup_components(),
    "bpe_token_counts": ORACLE_BPE_TOKEN_COUNTS,
    "top_docs_per_lang": _oracle_top_docs_per_lang(),
    "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "seq_packing": ORACLE_SEQ_PACKING,
    "vocab_filter": ORACLE_VOCAB_FILTER,
    "pii_scrub": _oracle_pii_scrub(),
    "bm25": _oracle_bm25(),
    "dedup_keep_best": _oracle_dedup_keep_best(),
    "dedup_recall_eval": _oracle_dedup_recall_eval(),
    "dsir_importance": ORACLE_DSIR_IMPORTANCE,
    "perplexity_buckets": ORACLE_PERPLEXITY_BUCKETS,
    "temperature_mix": _oracle_temperature_mix(),
    "passage_chunking": _oracle_passage_chunking(),
}


# ---------------------------------------------------------------------------
# Registered r14 (staged r13 under the full discipline). Executed exactly
# per the r13 write-ahead plan above ``_CHECK_FIRST`` (queries.py):
# unimax_mix ↔ kmeans_step retired, length_bucket_batches ↔
# tumbling_window retired, leakage_safe_split ↔
# semantic_dedup_incremental retired — all three retirees from the
# r12-checked half, so each freed a real r14 window slot.
# ---------------------------------------------------------------------------

UM_BUDGET, UM_EPOCHS = 333, 2


def q_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r14 (staged r13). UniMax epoch-capped mix assembly
    (operators/mixing.py::unimax_mix; Chung et al. 2023): per-source
    quotas from the ascending equal-share fold capped at 2 epochs per
    source, per-doc epoch counts (q div n copies each, first q mod n
    hash-ordered docs get one more). The integer fold runs driver-side
    over ≤ |sources| rows and the oracle re-derives it with a
    recursive CTE — no in-engine division anywhere."""
    from .operators.mixing import unimax_mix

    docs = load_table(spark, sf_dir, "documents")
    return unimax_mix(docs, UM_BUDGET, UM_EPOCHS)


def _oracle_unimax_mix(
    budget: int = UM_BUDGET, epochs: int = UM_EPOCHS, seed: int = 42
) -> str:
    """Mirror of unimax_mix: the same ascending (n, source) fold with
    integer shares (rem // m_remaining ≡ python //), then the same
    div/mod epoch-count expansion and multiplicative-hash rank."""
    return f"""
WITH RECURSIVE
counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
ord AS (SELECT source, n,
          row_number() OVER (ORDER BY n ASC, source ASC) AS i
        FROM counts),
tot AS (SELECT count(*) AS m FROM ord),
alloc(i, source, n, quota, rem) AS (
  SELECT o.i, o.source, o.n,
         least({epochs} * o.n, {budget} // t.m),
         {budget} - least({epochs} * o.n, {budget} // t.m)
  FROM ord o, tot t WHERE o.i = 1
  UNION ALL
  SELECT o.i, o.source, o.n,
         least({epochs} * o.n, a.rem // (t.m - a.i)),
         a.rem - least({epochs} * o.n, a.rem // (t.m - a.i))
  FROM alloc a, ord o, tot t WHERE o.i = a.i + 1
),
r AS (SELECT source, doc_id,
        row_number() OVER (PARTITION BY source
          ORDER BY ((doc_id + {seed}) * {HASH_MULT_TXT})
                     % {HASH_MOD_TXT} ASC, doc_id ASC) AS rk
      FROM documents)
SELECT r.source, r.doc_id, CAST(r.rk AS INT) AS mix_rank,
       CAST(a.quota // a.n
            + CASE WHEN r.rk <= a.quota % a.n THEN 1 ELSE 0 END
         AS BIGINT) AS n_copies,
       CAST(a.quota AS BIGINT) AS quota,
       CAST(a.n AS BIGINT) AS n_source
FROM r JOIN alloc a USING (source)
WHERE a.quota // a.n
      + CASE WHEN r.rk <= a.quota % a.n THEN 1 ELSE 0 END >= 1
"""


LB_BUDGET, LB_GRANULE, LB_CAP = 512, 16, 128


def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r14 (staged r13). Length-bucketed DataLoader
    batching (operators/batching.py::length_bucket_batches): pad-width
    buckets (granule 16, cap 128), fixed 512-token batch budget →
    per-width capacity, two-phase bucketed rank (never a ≤8-partition
    window), global per-width drop-last. Every step integral division
    on non-negatives — integer-exact cross-engine."""
    from .operators.batching import length_bucket_batches

    docs = load_table(spark, sf_dir, "documents")
    return length_bucket_batches(
        docs, token_budget=LB_BUDGET, granule=LB_GRANULE, cap=LB_CAP
    )


def _oracle_length_bucket_batches(
    budget: int = LB_BUDGET,
    granule: int = LB_GRANULE,
    cap: int = LB_CAP,
    seed: int = 42,
) -> str:
    return f"""
WITH t AS (SELECT doc_id, len({_dk_toks()}) AS n_tokens FROM documents),
s AS (SELECT doc_id, n_tokens,
        ((least(n_tokens, {cap}) + {granule - 1}) // {granule})
          * {granule} AS width
      FROM t WHERE n_tokens > 0),
r AS (SELECT *, row_number() OVER (PARTITION BY width
        ORDER BY ((doc_id + {seed}) * {HASH_MULT_TXT})
                   % {HASH_MOD_TXT} ASC, doc_id ASC) - 1 AS rk
      FROM s),
tt AS (SELECT width, count(*) AS total FROM s GROUP BY width)
SELECT r.doc_id, CAST(r.n_tokens AS INT) AS n_tokens,
       CAST(r.width AS INT) AS width,
       CAST(r.rk // ({budget} // r.width) AS BIGINT) AS batch_id,
       CAST(r.rk % ({budget} // r.width) AS INT) AS pos,
       CAST(r.width - least(r.n_tokens, {cap}) AS INT) AS pad_tokens
FROM r JOIN tt USING (width)
WHERE r.rk < tt.total - (tt.total % ({budget} // r.width))
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r14 (staged r13). Near-dup-aware train/eval split
    (operators/graph.py::leakage_safe_split): MinHash-LSH pairs →
    connected components → component-hash 80/20 split, singletons
    hash their own id — no near-dup pair (or transitive chain) ever
    straddles the split (Lee et al. 2022's leakage guard). Owns the
    pair cache like dedup_components."""
    from .operators.graph import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.5, cache_handles=handles, pinned=D.pins_for(sf_dir)
    )
    out = leakage_safe_split(docs, pairs)  # components materialize here
    for h in handles:
        h.unpersist()
    return out


def _oracle_leakage_safe_split(
    mod: int = 10, train_parts: int = 8, seed: int = 42
) -> str:
    pairs_sql = _oracle_jaccard(0.5, lsh=True)
    return f"""
WITH RECURSIVE
edges AS (SELECT left_id, right_id FROM ({pairs_sql})),
und AS (
  SELECT left_id AS a, right_id AS b FROM edges
  UNION
  SELECT right_id, left_id FROM edges
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
comp AS (
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
)
SELECT d.doc_id,
       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component,
       CASE WHEN ((coalesce(c.component, d.doc_id) + {seed})
                   * {HASH_MULT_TXT}) % {HASH_MOD_TXT} % {mod}
                 < {train_parts}
            THEN 'train' ELSE 'eval' END AS split
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


TEXT_QUERIES.update(
    {
        "unimax_mix": q_unimax_mix,
        "length_bucket_batches": q_length_bucket_batches,
        "leakage_safe_split": q_leakage_safe_split,
    }
)
TEXT_ORACLES.update(
    {
        "unimax_mix": _oracle_unimax_mix(),
        "length_bucket_batches": _oracle_length_bucket_batches(),
        "leakage_safe_split": _oracle_leakage_safe_split(),
    }
)


# ---------------------------------------------------------------------------
# Registered r15 (staged r13 under the full discipline). Executed exactly
# per the r13→r14 write-ahead plan above ``_CHECK_FIRST`` (queries.py):
# winnowing_fingerprint ↔ doc_fingerprint retired, bloom_decontaminate ↔
# mixture_sample retired, bpe_merge_step ↔ top_terms retired — all three
# retirees from the r13-checked half, so each freed a real r15 window
# slot. winnowing's 43×@100× registration gate was RESOLVED r14 by the
# O(g·log w) sparse-table sliding-min rewrite (18.11× quiet, SCALE_100X).
# The retired q_/oracle surfaces stay (fuzz panels + unit tests).
# ---------------------------------------------------------------------------

WN_K, WN_W = 3, 4


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r15 (staged r13). Winnowing fingerprints (operators/
    textops.py::winnowing_fingerprints; Schleimer et al. SIGMOD 2003):
    per-window rightmost-minimal k-gram hash selection — local
    (substring-level) overlap detection, the robust superset of
    doc_fingerprint's single corpus-wide min-hash. Zero-shuffle
    codegen'd projection chain."""
    docs = load_table(spark, sf_dir, "documents")
    return T.winnowing_fingerprints(spread(docs), k=WN_K, w=WN_W)


def _oracle_winnowing_fingerprint(k: int = WN_K, w: int = WN_W) -> str:
    """Mirror: positional gram md5-prefix hashes, w-wide windows (short
    single window when grams < w), rightmost-min via reversed
    list_position, distinct (pos, hash) selections. The gram-index
    lambda var is ``gi`` — _dk_hex2long binds ``i`` internally and
    DuckDB's inner lambda would shadow an outer ``i``."""
    gram_h = _dk_hex2long(
        f"md5(array_to_string(list_slice(toks, gi, gi + {k - 1}), ' '))"
    )
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
h AS (SELECT doc_id,
        list_transform(range(1, greatest(len(toks) - {k - 1}, 0) + 1),
                       gi -> {gram_h}) AS hs
      FROM t),
w AS (SELECT doc_id, hs,
        unnest(range(1, greatest(len(hs) - {w - 1}, 1) + 1)) AS j
      FROM h WHERE len(hs) >= 1),
s AS (SELECT doc_id, j, list_slice(hs, j, j + {w - 1}) AS sub FROM w)
SELECT DISTINCT doc_id,
       CAST(j + len(sub)
            - list_position(list_reverse(sub), list_min(sub)) AS INT)
         AS fp_pos,
       CAST(list_min(sub) AS BIGINT) AS fp_hash
FROM s
"""


BLOOM_M_BITS = 65536


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r15 (staged r13). Bloom-filter decontamination
    prefilter (operators/decontam.py::bloom_decontaminate; Bloom 1970):
    the benchmark slice's (doc_id < 20) 4-grams set positions in a
    65536-position double-hash filter; corpus docs (doc_id ≥ 20) whose
    grams have BOTH probe positions set are flagged. No false
    negatives; deterministic false positives the oracle replays
    bit-exactly. The filter state is ≤ m_bits rows at ANY benchmark
    size — the fixed-broadcast scale path the exact gram join lacks."""
    from .operators.decontam import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = spread(docs).filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    return bloom_decontaminate(corpus, bench, n=4, m_bits=BLOOM_M_BITS)


def _oracle_bloom_decontaminate(n: int = 4, m_bits: int = BLOOM_M_BITS) -> str:
    """Mirror: both probe positions sliced from ONE md5 digest per gram
    (hex windows [1..8] and [9..16] — operators/decontam.py::
    BLOOM_HEX_STARTS), same distinct position set, same all-probes-set
    test, same per-doc counts."""
    p0 = _dk_hex2long("h")
    p1 = _dk_hex2long("substr(h, 9, 8)")
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_dk_shingles('toks', n)}) AS g FROM t),
hx AS (SELECT doc_id, md5(g) AS h FROM sh),
hp AS (SELECT doc_id, {p0} % {m_bits} AS p0, {p1} % {m_bits} AS p1 FROM hx),
bits AS (SELECT DISTINCT pos FROM (
           SELECT p0 AS pos FROM hp WHERE doc_id < 20
           UNION ALL
           SELECT p1 AS pos FROM hp WHERE doc_id < 20)),
corpus AS (SELECT doc_id, p0, p1 FROM hp WHERE doc_id >= 20),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
hits AS (SELECT doc_id, count(*) AS n_maybe FROM corpus
         WHERE p0 IN (SELECT pos FROM bits)
           AND p1 IN (SELECT pos FROM bits)
         GROUP BY 1)
SELECT h.doc_id, s.n_grams, h.n_maybe,
       h.n_maybe::DOUBLE / s.n_grams::DOUBLE AS maybe_frac
FROM hits h JOIN sizes s USING (doc_id)
"""


BPE_TOP_N = 32


def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r15 (staged r13). One distributed BPE merge
    iteration (operators/textops.py::bpe_merge_step; Sennrich et al.
    2016): word frequencies → adjacent-char-pair counts weighted by
    frequency → top-32 merge candidates. The corpus collapses to its
    vocabulary after the first aggregate — the tokenizer-training
    shape for 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_merge_step(spread(docs), top_n=BPE_TOP_N)


def _oracle_bpe_merge_step(top_n: int = BPE_TOP_N) -> str:
    return f"""
WITH w AS (SELECT unnest(regexp_extract_all(lower(text),
             '{_BPE_PATTERN_SQL}')) AS word
           FROM documents),
wf AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
p AS (SELECT unnest(list_transform(range(1, length(word)),
        i -> substr(word, CAST(i AS INT), 2))) AS pair, freq
      FROM wf WHERE length(word) >= 2)
SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
FROM p GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {top_n}
"""


TEXT_QUERIES.update(
    {
        "winnowing_fingerprint": q_winnowing_fingerprint,
        "bloom_decontaminate": q_bloom_decontaminate,
        "bpe_merge_step": q_bpe_merge_step,
    }
)
TEXT_ORACLES.update(
    {
        "winnowing_fingerprint": _oracle_winnowing_fingerprint(),
        "bloom_decontaminate": _oracle_bloom_decontaminate(),
        "bpe_merge_step": _oracle_bpe_merge_step(),
    }
)


# ---------------------------------------------------------------------------
# Registered r16 (staged r14 under the full discipline). Executed exactly
# per the r14→r15 write-ahead plan above ``_CHECK_FIRST`` (queries.py):
# url_host_dedup ↔ exact_dedup retired, contamination_eval_split ↔
# decontaminate retired, repetition_quality ↔ quality_score retired —
# all three retirees from the r14-checked half (the half that rotates
# into the r16 window), so each freed a real r16 window slot. The exact
# 47+3 composition was dry-run 50/50 green in r15 (CHANGES_r15 §10).
# The retired q_/oracle surfaces stay (fuzz panels + unit tests).
# ---------------------------------------------------------------------------

# Mirrors operators/dedup.py::_TRACKING_PARAM_RE (default): bare
# ref/ref_src deliberately excluded — semantic on many sites (r14
# ADVICE); only the unambiguous ad/click/campaign IDs strip.
_URL_TRACKING_RE_SQL = "^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)="


def _synth_url_expr():
    """Deterministic URL column synthesized from the documents table
    (the fixture has no url column; the OPERATOR is general). Variants
    keyed by doc_id exercise every normalization branch — scheme
    presence/case, www label, default port, trailing slash, param
    order, tracking params, fragment — while the canonical key
    collapses to (source, lang, doc_id % 40), giving real dup groups."""
    d = F.col("doc_id")
    scheme = (
        F.when(d % 3 == 0, F.lit("http://"))
        .when(d % 3 == 1, F.lit("HTTPS://"))
        .otherwise(F.lit(""))
    )
    www = F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    port = F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    slash = F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit(""))
    q = (
        F.when(d % 2 == 0, F.lit("?b=2&utm_source=feed&a=1"))
        .otherwise(F.lit("?a=1&b=2"))
    )
    frag = F.when(d % 4 == 0, F.lit("#sec")).otherwise(F.lit(""))
    return F.concat(
        scheme, www, F.col("source"), F.lit(".Example.COM"), port,
        F.lit("/"), F.col("lang"), F.lit("/item/"),
        (d % 40).cast("string"), slash, q, frag,
    )


_SYNTH_URL_SQL = """
  (CASE WHEN doc_id % 3 = 0 THEN 'http://'
        WHEN doc_id % 3 = 1 THEN 'HTTPS://' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
  || source || '.Example.COM'
  || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
  || '/' || lang || '/item/' || CAST(doc_id % 40 AS VARCHAR)
  || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
      ELSE '?a=1&b=2' END)
  || (CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END)
"""


def q_url_host_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r14). URL-level exact dedup
    (operators/dedup.py::url_host_dedup): canonical-URL key
    normalization (scheme/www/port/fragment/tracking-param/param-order
    invariant, pure Catalyst regexp expressions) + one shuffle keyed by
    the canonical key — the free first pass every crawl pipeline runs
    before any content dedup (C4/CCNet). The oracle re-derives the
    synthesized URLs AND the full normalization chain step for step."""
    from .operators.dedup import url_host_dedup

    docs = load_table(spark, sf_dir, "documents")
    return url_host_dedup(
        docs.select("doc_id", _synth_url_expr().alias("url")), "url"
    )


def _oracle_url_host_dedup() -> str:
    return f"""
WITH raw AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
u1 AS (SELECT doc_id,
         regexp_replace(regexp_replace(lower(trim(url)),
           '^[a-z][a-z0-9+.-]*://', ''), '#.*$', '') AS u
       FROM raw),
u2 AS (SELECT doc_id, u,
         regexp_replace(regexp_replace(regexp_extract(u, '^([^/?]+)', 1),
           '^www\\d*\\.', ''), ':(80|443)$', '') AS host,
         regexp_replace(u, '^[^/?]+', '') AS rest
       FROM u1),
u3 AS (SELECT doc_id, host,
         regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
           AS path0,
         regexp_extract(rest, '\\?(.*)$', 1) AS query
       FROM u2),
u4 AS (SELECT doc_id, host,
         (CASE WHEN path0 = '' THEN '/' ELSE path0 END) AS path,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
           p -> p <> '' AND NOT regexp_matches(p,
             '{_URL_TRACKING_RE_SQL}'))), '&') AS canon_q
       FROM u3),
k AS (SELECT doc_id, host,
        host || path ||
          (CASE WHEN canon_q <> '' THEN '?' || canon_q ELSE '' END)
          AS url_key
      FROM u4)
SELECT doc_id, host, url_key,
       count(*) OVER (PARTITION BY url_key) AS n_copies,
       row_number() OVER (PARTITION BY url_key ORDER BY doc_id ASC) = 1
         AS is_kept
FROM k
"""


def q_contamination_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r14). GPT-3 Appendix-C dirty/clean EVAL
    split (operators/decontam.py::contamination_eval_split): per eval
    document (doc_id < 20, the decontaminate benchmark slice), its
    4-gram overlap with the training corpus (doc_id >= 20) and the
    dirty flag at any-collision — the reverse direction of
    `decontaminate` (which scores the CORPUS side). Corpus grams never
    shuffle; the eval-gram set broadcasts."""
    from .operators.decontam import contamination_eval_split

    docs = load_table(spark, sf_dir, "documents")
    corpus = spread(docs).filter(F.col("doc_id") >= 20)
    ev = docs.filter(F.col("doc_id") < 20)
    return contamination_eval_split(corpus, ev, n=4)


def _oracle_contamination_eval_split(n: int = 4) -> str:
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_dk_shingles('toks', n)}) AS shingle FROM t),
hx AS (SELECT doc_id, {_dk_hex15_to_long('md5(shingle)')} AS h FROM sh),
ev AS (SELECT doc_id, h FROM hx WHERE doc_id < 20),
corp AS (SELECT DISTINCT h FROM hx WHERE doc_id >= 20),
sizes AS (SELECT doc_id, len({_dk_shingles('toks', n)}) AS n_grams
          FROM t WHERE doc_id < 20),
hits AS (SELECT e.doc_id, count(DISTINCT e.h) AS n_dirty
         FROM ev e JOIN corp c USING (h) GROUP BY 1)
SELECT s.doc_id,
       CAST(s.n_grams AS INT) AS n_grams,
       CAST(coalesce(h.n_dirty, 0) AS BIGINT) AS n_dirty_grams,
       coalesce(h.n_dirty, 0) >= 1 AS dirty,
       CAST(coalesce(h.n_dirty, 0) AS DOUBLE)
         / CAST(greatest(s.n_grams, 1) AS DOUBLE) AS dirty_frac
FROM sizes s LEFT JOIN hits h USING (doc_id)
"""


def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r14). Gopher char-fraction repetition
    suite (operators/textops.py::repetition_ngram_fractions; Rae et
    al. 2021 Table A1): per (doc, n, kind), the fraction of characters
    in the most frequent n-gram (n=2/3/4) or in duplicated n-grams
    (n=5/6/7), flagged at the published thresholds. The character-mass
    complement of `gopher_quality`'s token-count signals."""
    from .operators.textops import repetition_ngram_fractions

    docs = load_table(spark, sf_dir, "documents")
    return repetition_ngram_fractions(spread(docs))


def _oracle_repetition_quality() -> str:
    from .operators.textops import REPETITION_RULES

    branches = " UNION ALL ".join(
        f"""SELECT doc_id, nc, {n} AS n, '{kind}' AS kind,
          CAST({thr} AS DOUBLE) AS thr,
          unnest(list_transform(
            range(1, greatest(len(toks) - {n - 1}, 0) + 1),
            i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' ')))
            AS gram
        FROM t"""
        for n, kind, thr in REPETITION_RULES
    )
    return f"""
WITH t AS (SELECT doc_id, length(trim(text)) AS nc, {_dk_toks()} AS toks
           FROM documents),
g AS ({branches}),
c AS (SELECT doc_id, n, kind, thr, max(nc) AS nc, gram, count(*) AS cnt
      FROM g GROUP BY doc_id, n, kind, thr, gram),
p1 AS (SELECT doc_id, n, kind, thr, max(nc) AS n_chars, max(cnt) AS mx,
         sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END)
           AS dup_mass
       FROM c GROUP BY doc_id, n, kind, thr),
p2 AS (SELECT c.doc_id, c.n, c.kind,
         max(c.cnt * length(c.gram)) AS top_mass
       FROM c JOIN p1 USING (doc_id, n, kind)
       WHERE c.cnt = p1.mx GROUP BY c.doc_id, c.n, c.kind)
SELECT p1.doc_id, CAST(p1.n AS INT) AS n, p1.kind,
       CAST(p1.n_chars AS INT) AS n_chars,
       CAST(CASE WHEN p1.kind = 'top' THEN p2.top_mass
            ELSE least(p1.dup_mass, p1.n_chars) END AS BIGINT)
         AS gram_chars,
       CAST(CASE WHEN p1.kind = 'top' THEN p2.top_mass
            ELSE least(p1.dup_mass, p1.n_chars) END AS DOUBLE)
         / CAST(greatest(p1.n_chars, 1) AS DOUBLE) AS frac,
       CAST(CASE WHEN p1.kind = 'top' THEN p2.top_mass
            ELSE least(p1.dup_mass, p1.n_chars) END AS DOUBLE)
         / CAST(greatest(p1.n_chars, 1) AS DOUBLE) > p1.thr AS flagged
FROM p1 JOIN p2 USING (doc_id, n, kind)
"""


TEXT_QUERIES.update(
    {
        "url_host_dedup": q_url_host_dedup,
        "contamination_eval_split": q_contamination_eval_split,
        "repetition_quality": q_repetition_quality,
    }
)
TEXT_ORACLES.update(
    {
        "url_host_dedup": _oracle_url_host_dedup(),
        "contamination_eval_split": _oracle_contamination_eval_split(),
        "repetition_quality": _oracle_repetition_quality(),
    }
)


# ---------------------------------------------------------------------------
# Registered r17 (staged r14: source_overlap_matrix,
# ngram_novelty_score; r15: exact_substring_dedup). Executed exactly
# per the r15→r16 write-ahead plan above ``_CHECK_FIRST`` (queries.py):
# source_overlap_matrix ↔ token_stats retired, ngram_novelty_score ↔
# incremental_dedup retired, exact_substring_dedup ↔ passage_dedup
# retired — all three retirees from the r15-checked half (the half
# that rotates into the r17 window), so each freed a real r17 window
# slot. The exact 47+3 composition was dry-run 50/50 green in r15
# (commit 18792c0). The retired q_/oracle surfaces stay (fuzz panels +
# unit tests).
# ---------------------------------------------------------------------------

SOM_N, SOM_K = 3, 64


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r17 (staged r14). Pairwise cross-source n-gram
    overlap via per-source KMV sketches
    (operators/sketch.py::source_overlap_matrix; Beyer et al. 2007
    KMV + the standard k-smallest-union Jaccard estimator): the
    mix-design "how much do my sources repeat each other?" answer
    with no all-pairs work — corpus collapses to |sources|·k sketch
    slots. Exact when a pair's merged distinct grams < k (the fixture
    regime, so the oracle comparison is exact)."""
    from .operators.sketch import source_overlap_matrix

    docs = load_table(spark, sf_dir, "documents")
    return source_overlap_matrix(spread(docs), n=SOM_N, k=SOM_K)


def _oracle_source_overlap_matrix(n: int = SOM_N, k: int = SOM_K) -> str:
    return f"""
WITH t AS (SELECT source, {_dk_toks()} AS toks FROM documents),
sh AS (SELECT source, unnest({_dk_shingles('toks', n)}) AS shingle FROM t),
hx AS (SELECT DISTINCT source,
         {_dk_hex15_to_long('md5(shingle)')} AS h FROM sh),
slots AS (SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
    FROM hx) WHERE rn <= {k}),
srcs AS (SELECT DISTINCT source FROM slots),
pairs AS (SELECT a.source AS source_a, b.source AS source_b
          FROM srcs a JOIN srcs b ON a.source < b.source),
m AS (SELECT p.source_a, p.source_b, s.h,
        max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS ia,
        max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS ib
      FROM pairs p JOIN slots s ON s.source IN (p.source_a, p.source_b)
      GROUP BY 1, 2, 3),
tk AS (SELECT * FROM (
    SELECT m.*, row_number() OVER (PARTITION BY source_a, source_b
                                   ORDER BY h ASC) AS rn
    FROM m) WHERE rn <= {k})
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_slots,
       CAST(sum(CASE WHEN ia + ib = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(sum(CASE WHEN ia + ib = 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS jaccard_est
FROM tk GROUP BY 1, 2
"""


NOV_N, NOV_STALE = 3, 0.5


def q_ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r17 (staged r14). First-occurrence n-gram novelty
    (operators/textops.py::ngram_novelty_score): per doc, the fraction
    of its distinct 3-grams whose global min-doc_id first occurrence
    is this doc — the per-document form of Lee et al. 2022's
    duplicate-text value argument; is_stale below 0.5."""
    from .operators.textops import ngram_novelty_score

    docs = load_table(spark, sf_dir, "documents")
    # r17 note: the persist+spill form (cache_handles +
    # materialize_and_release) won a cold same-session A/B (2.12 s vs
    # 2.28 s) but LOST in full-bench context at quiet calibration
    # (2.11 s vs the 1.40 s baseline row — warm, the second pipeline
    # evaluation is cheaper than the spill round-trip + array-cache
    # materialization). Reverted to the plain form; the operator keeps
    # the cache_handles seam for corpus-scale callers where the second
    # full tokenize pass dominates.
    return ngram_novelty_score(spread(docs), n=NOV_N, stale_below=NOV_STALE)


def _oracle_ngram_novelty_score(
    n: int = NOV_N, stale_below: float = NOV_STALE
) -> str:
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_dk_shingles('toks', n)}) AS shingle FROM t),
hx AS (SELECT DISTINCT doc_id,
         {_dk_hex15_to_long('md5(shingle)')} AS h FROM sh),
f AS (SELECT h, min(doc_id) AS first_doc FROM hx GROUP BY 1)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
         AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
         AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty_frac,
       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
         AS DOUBLE) / CAST(count(*) AS DOUBLE) < {stale_below} AS is_stale
FROM hx e JOIN f USING (h) GROUP BY 1
"""


ESS_L, ESS_TAU = 8, 0.2


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r17 (staged r15). ExactSubstr duplication profile
    (operators/textops.py::exact_substring_spans; Lee et al. ACL 2022
    §4.1, token-level): per doc, tokens covered by the union of
    L-token spans duplicated anywhere in the corpus — the suffix-array
    dedup re-expressed as two hash aggregates + a sorted-position
    window fold. r17 pairing executed: passage_dedup retired (the
    non-overlapping 20-token chunk dedup is the stride-L coarsening of
    this sliding L-window span map; the chunking machinery itself
    stays registered via passage_chunking)."""
    from .operators.textops import exact_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    # r17 note: the persist+spill form (minhash cache contract) was
    # A/B-measured here and LOST (1.65 s vs 1.41 s plain at sf0.1) —
    # the spill round-trip costs more than the second tokenize pass
    # saves, the same verdict ngram_jaccard's r12 100× A/B recorded
    # for persisting an exploded gram table. Plain form kept.
    return exact_substring_spans(spread(docs), L=ESS_L, flag_above=ESS_TAU)


def _oracle_exact_substring_dedup(L: int = ESS_L, tau: float = ESS_TAU) -> str:
    """Mirror: positional L-gram 60-bit md5-prefix hashes, hashes with
    corpus count >= 2, per-doc sorted-position lag fold (same
    least(L, pos - lag) union-coverage identity — positions may be
    0- or 1-based, only differences enter), left join back to doc
    token counts. The gram-index lambda var is ``gi`` (_dk_hex15
    binds ``i`` internally)."""
    gram_h = _dk_hex15_to_long(
        f"md5(array_to_string(list_slice(toks, gi, gi + {L - 1}), ' '))"
    )
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
d AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens FROM t
      WHERE len(toks) >= 1),
h AS (SELECT doc_id,
        list_transform(range(1, greatest(len(toks) - {L - 1}, 0) + 1),
                       gi -> {gram_h}) AS hs
      FROM t),
w AS (SELECT doc_id, unnest(range(1, len(hs) + 1)) AS pos, hs
      FROM h WHERE len(hs) >= 1),
g AS (SELECT doc_id, pos, hs[pos] AS h FROM w),
c AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
m AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (h)),
a AS (SELECT doc_id,
        coalesce(least({L}, pos - lag(pos)
          OVER (PARTITION BY doc_id ORDER BY pos)), {L}) AS added
      FROM m),
cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
               CAST(sum(added) AS BIGINT) AS dup_token_cov
        FROM a GROUP BY 1)
SELECT d.doc_id, d.n_tokens,
       coalesce(cov.n_dup_spans, 0) AS n_dup_spans,
       coalesce(cov.dup_token_cov, 0) AS dup_token_cov,
       coalesce(CAST(cov.dup_token_cov AS DOUBLE)
                / CAST(d.n_tokens AS DOUBLE), 0.0) AS dup_frac,
       coalesce(CAST(cov.dup_token_cov AS DOUBLE)
                / CAST(d.n_tokens AS DOUBLE), 0.0) > {tau} AS flagged
FROM d LEFT JOIN cov USING (doc_id)
"""


TEXT_QUERIES.update(
    {
        "source_overlap_matrix": q_source_overlap_matrix,
        "ngram_novelty_score": q_ngram_novelty_score,
        "exact_substring_dedup": q_exact_substring_dedup,
    }
)
TEXT_ORACLES.update(
    {
        "source_overlap_matrix": _oracle_source_overlap_matrix(),
        "ngram_novelty_score": _oracle_ngram_novelty_score(),
        "exact_substring_dedup": _oracle_exact_substring_dedup(),
    }
)


# ---------------------------------------------------------------------------
# r18 registration candidates — STAGED r15 (ahead of the pipeline, the
# r14→r16/r17 precedent). The r18 window re-checks the r16-checked half,
# so final pairings belong to the r16/r17 write-ahead plans. Provisional
# sibling arguments: language_confidence_filter ↔ language_id (the
# confidence gate is the margin-extended superset of the argmax LID),
# token_entropy ↔ the quality/repetition ratio family (distribution-wide
# where repetition_quality is top-gram), and bpe_train_encode ↔
# bpe_merge_step (the full learn+apply loop vs its single round — the
# single round stays unit/fuzz-covered either way). Staging discipline: Python
# reference + 3-SF oracle parity + plan pin in tests/test_staged_ops.py,
# generated-corpus fuzz rows in
# tests/test_fuzz_oracle.py::test_fuzz_staged_r18_text_ops.
# ---------------------------------------------------------------------------

LC_MARGIN = 0.02


def q_language_confidence_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r15) — NOT registered. CCNet-style language-confidence
    gate (operators/textops.py::language_confidence; Wenzek et al.
    2020 §3.1): argmax LID plus runner-up score and margin;
    ``is_confident`` gates on best > 0 AND margin ≥ 0.02. Zero-shuffle
    per-row expressions — the language_id class."""
    docs = load_table(spark, sf_dir, "documents")
    return T.language_confidence(spread(docs), min_margin=LC_MARGIN)


def _oracle_language_confidence_filter(m: float = LC_MARGIN) -> str:
    score_exprs = ",\n       ".join(
        f"{_dk_stop_filter('toks', LANG_STOPWORDS[lang])}::DOUBLE / "
        f"greatest(len(toks), 1) AS s_{lang}"
        for lang in sorted(LANG_STOPWORDS)
    )
    arr = "[" + ", ".join(f"s_{l}" for l in sorted(LANG_STOPWORDS)) + "]"
    case = " ".join(
        f"WHEN s_{l} = best THEN '{l}'" for l in sorted(LANG_STOPWORDS)
    )
    # best/runner-up indices derived from the live language set (r15
    # ADVICE: hard-coded arr[4]/arr[3] would silently misread if
    # LANG_STOPWORDS ever gains or loses a language). The Spark side
    # uses element_at(arr, -1)/(-2); 1-based n/n-1 is the same cell.
    n = len(LANG_STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
s AS (SELECT doc_id,
       {score_exprs}
      FROM t),
b AS (SELECT *, list_sort({arr}) AS arr FROM s),
b2 AS (SELECT *, arr[{n}] AS best, arr[{n - 1}] AS second FROM b)
SELECT doc_id,
       CASE WHEN best <= 0 THEN 'und' {case} ELSE 'und' END AS pred_lang,
       best AS lang_score,
       second AS second_score,
       best - second AS margin,
       (best > 0 AND best - second >= {m}) AS is_confident
FROM b2
"""


TE_TEMPLATED_BELOW = 2_500_000


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r15) — NOT registered. Per-doc unigram Shannon entropy
    in integer micro-nats (operators/textops.py::token_entropy) — the
    distribution-wide templated-text screen, exact cross-engine via
    the dsir/perplexity λ-quantization contract."""
    docs = load_table(spark, sf_dir, "documents")
    return T.token_entropy(spread(docs), templated_below=TE_TEMPLATED_BELOW)


def _oracle_token_entropy(thr: int = TE_TEMPLATED_BELOW) -> str:
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT doc_id, tok, count(*) AS c FROM e GROUP BY 1, 2),
d AS (SELECT doc_id,
        CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(sum(c * CAST(round(ln(c::DOUBLE) * 1000000.0) AS BIGINT))
          AS BIGINT) AS s_q
      FROM c GROUP BY 1)
SELECT doc_id, n_tokens, n_distinct,
       CAST(round(ln(n_tokens::DOUBLE) * 1000000.0) AS BIGINT)
         - s_q // n_tokens AS entropy_micro,
       CAST(round(ln(n_tokens::DOUBLE) * 1000000.0) AS BIGINT)
         - s_q // n_tokens < {thr} AS is_templated
FROM d
"""


BTE_MERGES = 6


def q_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r15) — NOT registered. FULL BPE tokenizer training +
    corpus encoding (operators/textops.py::bpe_train_encode; Sennrich
    et al. 2016 learn_bpe + apply_bpe): 6 driver-collected merge rounds
    over the collapsed vocabulary, then the encoded corpus's token
    occurrence counts. bpe_merge_step (registered r15) is this loop's
    single round."""
    from .operators.spill import materialize_and_release
    from .operators.textops import bpe_train_encode

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    out = bpe_train_encode(spread(docs), n_merges=BTE_MERGES,
                           cache_handles=handles)
    return materialize_and_release(out, handles, "bpe-")


def _oracle_bpe_train_encode(n_merges: int = BTE_MERGES) -> str:
    """Mirror: the same n_merges rounds UNROLLED as CTE pairs — per
    round, a pair-count aggregate over the current segmentation, a
    1-row argmax CTE (count desc, pair asc — the Spark collect's exact
    order), and a re-segmentation whose list_reduce fuse replays
    _bpe_fuse greedily left-to-right (single-element-list wrapping
    gives the fold a list accumulator; the no-init fold over a
    non-empty list equals the empty-init fold). An EMPTY argmax round
    LEFT-JOINs NULL a/b into the fuse condition → identity, exactly
    like the NULL merge literals on the Spark side."""
    fuse = (
        "list_reduce(list_transform(s.syms, x -> [x]), "
        "(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a "
        "AND x[1] = m.b "
        "THEN list_concat(acc[1:len(acc)-1], [m.a || m.b]) "
        "ELSE list_concat(acc, x) END)"
    )
    ctes = [f"""w AS (SELECT unnest(regexp_extract_all(lower(text),
             '{_BPE_PATTERN_SQL}')) AS word
           FROM documents),
seg0 AS (SELECT word, count(*) AS freq,
                list_transform(range(1, length(word) + 1),
                               i -> word[i]) AS syms
         FROM w GROUP BY word)"""]
    for r in range(n_merges):
        ctes.append(f"""p{r} AS (
  SELECT s.syms[j] AS a, s.syms[j+1] AS b, sum(s.freq) AS cnt
  FROM seg{r} s, unnest(range(1, greatest(len(s.syms) - 1, 0) + 1)) AS u(j)
  GROUP BY 1, 2
),
m{r} AS (SELECT a, b FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
seg{r + 1} AS (
  SELECT s.word, s.freq,
         CASE WHEN m.a IS NULL THEN s.syms ELSE {fuse} END AS syms
  FROM seg{r} s LEFT JOIN m{r} m ON TRUE
)""")
    return f"""
WITH {', '.join(ctes)}
SELECT u.token, CAST(sum(s.freq) AS BIGINT) AS n_occurrences
FROM seg{n_merges} s, unnest(s.syms) AS u(token)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# r19 registration candidates — STAGED r16 (ahead of the pipeline, the
# r14→r16/r17 precedent). The r19 window re-checks the r17-checked half,
# so each candidate pairs with a retiree from THAT half (provisional
# write-ahead in queries.py below the ROUND-18 plan):
#   gopher_length_screen ↔ gopher_quality (length screens + the r16-
#       registered repetition_quality together supersede its signals)
#   fineweb_filter_chain ↔ clean_corpus (the chain generalizes its
#       quality-gate stage with per-rule attribution; the md5 dedup
#       window and per-lang rollup stay registered via url_host_dedup/
#       streaming_dedup_batch and top_docs_per_lang)
#   domain_quota_sample  ↔ stratified_sample (the same exact-k-per-
#       stratum window machinery over a derived host stratum, plus
#       group-size/kept attribution — SA1 stays covered)
# Staging discipline: Python reference + 3-SF oracle parity + plan pin
# in tests/test_staged_ops.py, generated-corpus fuzz rows in
# tests/test_fuzz_oracle.py::test_fuzz_staged_r19_text_ops.
# ---------------------------------------------------------------------------

# DuckDB mirror of textops.line_exprs — explicit [ \t\r] trim class
# (never \s: Java includes \x0B, RE2 does not), 'g' flag because
# DuckDB's regexp_replace is first-match-only by default while Spark's
# replaces all.
_DK_LINES = (
    "list_filter(list_transform(string_split(text, chr(10)), "
    "l -> regexp_replace(l, '^[ \\t\\r]+|[ \\t\\r]+$', '', 'g')), "
    "l -> l <> '')"
)


def q_gopher_length_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r16) — NOT registered. Gopher Table-A1 length screens
    (operators/textops.py::gopher_length_screen; Rae et al. 2021):
    word-count bounds, mean-word-length band, alphabetic-word
    fraction, bullet/ellipsis line caps, published-threshold pass
    flag. Zero-shuffle per-row expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return T.gopher_length_screen(spread(docs))


def _oracle_gopher_length_screen() -> str:
    R = T.GOPHER_LENGTH_RULES
    return f"""
WITH t AS (SELECT doc_id, {_dk_toks()} AS toks, {_DK_LINES} AS lines
           FROM documents),
m AS (SELECT doc_id,
        len(toks) AS n_words,
        coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
          AS sum_len,
        len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
          AS n_alpha,
        len(lines) AS n_lines,
        len(list_filter(lines,
            l -> starts_with(l, '- ') OR starts_with(l, '* ')))
          AS n_bullet,
        len(list_filter(lines, l -> ends_with(l, '...'))) AS n_ellipsis
      FROM t),
f AS (SELECT doc_id,
        CAST(n_words AS INT) AS n_words,
        sum_len::DOUBLE / greatest(n_words, 1)::DOUBLE AS mean_word_len,
        n_alpha::DOUBLE / greatest(n_words, 1)::DOUBLE AS alpha_word_frac,
        n_bullet::DOUBLE / greatest(n_lines, 1)::DOUBLE
          AS bullet_line_frac,
        n_ellipsis::DOUBLE / greatest(n_lines, 1)::DOUBLE
          AS ellipsis_line_frac
      FROM m)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
       bullet_line_frac, ellipsis_line_frac,
       (n_words >= {R["min_words"]} AND n_words <= {R["max_words"]}
        AND mean_word_len >= {R["min_mean_word_len"]}
        AND mean_word_len <= {R["max_mean_word_len"]}
        AND alpha_word_frac > {R["min_alpha_word_frac"]}
        AND bullet_line_frac <= {R["max_bullet_line_frac"]}
        AND ellipsis_line_frac <= {R["max_ellipsis_line_frac"]})
         AS passes
FROM f
"""


def q_fineweb_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r16) — NOT registered. FineWeb/C4 composed corpus filter
    (operators/textops.py::fineweb_filter_chain; Penedo et al. 2024,
    Raffel et al. 2020): five ordered keep/drop rules fused into one
    scan, with per-rule booleans and first-failed attribution."""
    docs = load_table(spark, sf_dir, "documents")
    return T.fineweb_filter_chain(spread(docs))


def _oracle_fineweb_filter_chain(lang: str = "en") -> str:
    R = T.GOPHER_LENGTH_RULES
    score_exprs = ",\n       ".join(
        f"{_dk_stop_filter('toks', LANG_STOPWORDS[lg])}::DOUBLE / "
        f"greatest(len(toks), 1) AS s_{lg}"
        for lg in sorted(LANG_STOPWORDS)
    )
    best = "greatest(" + ", ".join(
        f"s_{lg}" for lg in sorted(LANG_STOPWORDS)
    ) + ")"
    case = " ".join(
        f"WHEN s_{lg} = best THEN '{lg}'" for lg in sorted(LANG_STOPWORDS)
    )
    return f"""
WITH t AS (SELECT doc_id, text, {_dk_toks()} AS toks, {_DK_LINES} AS lines
           FROM documents),
s AS (SELECT doc_id, text, toks, lines,
       {score_exprs}
      FROM t),
b AS (SELECT *, {best} AS best FROM s),
r AS (SELECT doc_id,
        (CASE WHEN best <= 0 THEN 'und' {case} ELSE 'und' END)
          = '{lang}' AS r_lang,
        len(toks) AS n_words,
        coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
          / greatest(len(toks), 1)::DOUBLE AS mean_word_len,
        coalesce(
          list_max(list_transform(list_distinct(toks),
                                  d -> len(list_filter(toks, x -> x = d))))::DOUBLE
            / greatest(len(toks), 1), 0.0) AS top_word_frac,
        (CASE WHEN len(toks) >= 2 THEN
           1.0 - len(list_distinct(list_transform(
                    list_zip(list_slice(toks, 1, len(toks) - 1),
                             list_slice(toks, 2, len(toks))),
                    s -> s[1] || ' ' || s[2])))::DOUBLE / (len(toks) - 1)
         ELSE 0.0 END) AS dup_2gram_frac,
        len(list_filter(lines,
            l -> ends_with(l, '.') OR ends_with(l, '!')
              OR ends_with(l, '?') OR ends_with(l, '"')))::DOUBLE
          / greatest(len(lines), 1)::DOUBLE AS punct_frac
      FROM b),
g AS (SELECT doc_id, r_lang,
        (n_words >= {R["min_words"]} AND n_words <= {R["max_words"]})
          AS r_n_words,
        (mean_word_len >= {R["min_mean_word_len"]}
         AND mean_word_len <= {R["max_mean_word_len"]}) AS r_mean_word_len,
        (top_word_frac <= 0.2 AND dup_2gram_frac <= 0.4) AS r_repetition,
        punct_frac >= {T.FINEWEB_PUNCT_MIN_FRAC} AS r_punct
      FROM r)
SELECT doc_id, r_lang, r_n_words, r_mean_word_len, r_repetition, r_punct,
       (r_lang AND r_n_words AND r_mean_word_len AND r_repetition
        AND r_punct) AS keep,
       (CASE WHEN NOT r_lang THEN 'lang'
             WHEN NOT r_n_words THEN 'n_words'
             WHEN NOT r_mean_word_len THEN 'mean_word_len'
             WHEN NOT r_repetition THEN 'repetition'
             WHEN NOT r_punct THEN 'punct' END) AS first_failed
FROM g
"""


DQS_MAX_PER_HOST = 2


def _synth_quota_url_expr():
    """Deterministic URL with HOST variety (the fixture has no url
    column; the OPERATOR is general): subdomain s{doc_id % 37} over
    each source domain gives 37·|sources| hosts with a handful of docs
    each, so a quota of 2 produces a real kept/dropped mix; scheme and
    www-label variants exercise the normalization."""
    d = F.col("doc_id")
    scheme = (
        F.when(d % 3 == 0, F.lit("http://"))
        .when(d % 3 == 1, F.lit("HTTPS://"))
        .otherwise(F.lit(""))
    )
    www = F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    return F.concat(
        scheme, www, F.lit("s"), (d % 37).cast("string"), F.lit("."),
        F.col("source"), F.lit(".Example.COM/d/"), d.cast("string"),
    )


_SYNTH_QUOTA_URL_SQL = """
  (CASE WHEN doc_id % 3 = 0 THEN 'http://'
        WHEN doc_id % 3 = 1 THEN 'HTTPS://' ELSE '' END)
  || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
  || 's' || CAST(doc_id % 37 AS VARCHAR) || '.' || source
  || '.Example.COM/d/' || CAST(doc_id AS VARCHAR)
"""


def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r16) — NOT registered. Per-domain document cap
    (operators/sample.py::domain_quota_sample; RefinedWeb/Dolma crawl-
    balance rule): normalized host, host doc count, deterministic
    rank under the multiplicative-hash surrogate order, is_kept at
    quota 2. One host-keyed exchange shared by count + rank."""
    from .operators.sample import domain_quota_sample

    docs = load_table(spark, sf_dir, "documents")
    return domain_quota_sample(
        docs.select("doc_id", _synth_quota_url_expr().alias("url")),
        "url",
        max_per_host=DQS_MAX_PER_HOST,
    )


def _oracle_domain_quota_sample(quota: int = DQS_MAX_PER_HOST) -> str:
    # the multiplicative-hash surrogate order, spelled from the operator
    # constants (importing queries.py's _dk_shuffle_key here would be a
    # circular import once this registers)
    from .operators.sample import HASH_MOD, HASH_MULT

    def _dk_shuffle_key(id_col: str, seed: int = 42) -> str:
        return f"(({id_col} + {seed}) * {HASH_MULT}) % {HASH_MOD}"

    return f"""
WITH raw AS (SELECT doc_id, {_SYNTH_QUOTA_URL_SQL} AS url FROM documents),
u1 AS (SELECT doc_id,
         regexp_replace(regexp_replace(lower(trim(url)),
           '^[a-z][a-z0-9+.-]*://', ''), '#.*$', '') AS u
       FROM raw),
h AS (SELECT doc_id,
        regexp_replace(regexp_replace(regexp_extract(u, '^([^/?]+)', 1),
          '^www\\d*\\.', ''), ':(80|443)$', '') AS host
      FROM u1)
SELECT doc_id, host,
       count(*) OVER (PARTITION BY host) AS n_host_docs,
       CAST(row_number() OVER (PARTITION BY host
              ORDER BY {_dk_shuffle_key('doc_id')} ASC, doc_id ASC) AS INT)
         AS rank_in_host,
       row_number() OVER (PARTITION BY host
              ORDER BY {_dk_shuffle_key('doc_id')} ASC, doc_id ASC)
         <= {quota} AS is_kept
FROM h
"""


# ---------------------------------------------------------------------------
# r20 registration candidates — STAGED r16 (two rounds ahead; r20 is the
# final planned window, so its candidates must be staged by r19 — final
# pairings belong to the r18/r19 write-ahead plans in queries.py).
# Provisional sibling arguments: line_dedup ↔ the dedup family's chunk
# sibling (passage-level machinery stays via passage_chunking;
# exact_substring_dedup registers r17 as the token-span sibling);
# winnow_overlap_pairs ↔ winnowing_fingerprint (the pair report is the
# fingerprint table's MOSS consumption — same selection core, one more
# keyed join); ivf_balance_stats ↔ an IVF-family sibling (the layout
# diagnostics read the same materialized index ivf_topk probes).
# Staging discipline: Python reference + 3-SF oracle parity + plan pin
# in tests/test_staged_ops.py, generated-corpus fuzz rows in
# tests/test_fuzz_oracle.py::test_fuzz_staged_r20_text_ops.
# ---------------------------------------------------------------------------


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r16) — NOT registered. CCNet paragraph/line-level exact
    dedup (operators/textops.py::ccnet_line_dedup; Wenzek et al. 2020
    §3.2): corpus-wide line-hash first-occurrence keep rule; per doc,
    line counts, duplicated-line fraction, reconstructed kept text."""
    docs = load_table(spark, sf_dir, "documents")
    return T.ccnet_line_dedup(spread(docs))


def _oracle_line_dedup() -> str:
    h = _dk_hex2long("md5(line)")
    return f"""
WITH t AS (SELECT doc_id, {_DK_LINES} AS lines FROM documents),
l AS (SELECT doc_id, i - 1 AS pos, lines[i] AS line
      FROM t, unnest(range(1, len(lines) + 1)) AS u(i)),
h AS (SELECT doc_id, pos, line, {h} AS hsh FROM l),
r AS (SELECT *, row_number() OVER (PARTITION BY hsh
                                   ORDER BY doc_id ASC, pos ASC) AS rn
      FROM h),
agg AS (SELECT doc_id,
          count(*) AS n_lines,
          sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_dup,
          array_to_string(
            list_transform(
              list_sort(list({{'pos': pos, 'line': line}})
                          FILTER (WHERE rn = 1)),
              s -> struct_extract(s, 'line')),
            chr(10)) AS kept_text
        FROM r GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(a.n_lines, 0) AS INT) AS n_lines,
       CAST(coalesce(a.n_dup, 0) AS INT) AS n_dup_lines,
       coalesce(a.n_dup, 0)::DOUBLE
         / greatest(coalesce(a.n_lines, 0), 1)::DOUBLE AS dup_line_frac,
       coalesce(a.kept_text, '') AS kept_text
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


WOP_MIN_SHARED, WOP_MAX_DF = 2, 10


def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r16) — NOT registered. MOSS pairwise overlap report
    (operators/textops.py::winnow_overlap_pairs; Schleimer et al. 2003
    §5) over the registered winnowing selection (k=3, w=4): pairs
    sharing ≥ 2 distinct fingerprints after the df ≤ 10 boilerplate
    cap, with shared counts and fingerprint-set Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return T.winnow_overlap_pairs(
        spread(docs), k=WN_K, w=WN_W,
        min_shared=WOP_MIN_SHARED, max_df=WOP_MAX_DF,
    )


def _oracle_winnow_overlap_pairs(
    min_shared: int = WOP_MIN_SHARED, max_df: int = WOP_MAX_DF
) -> str:
    return f"""
WITH fps AS ({_oracle_winnowing_fingerprint(WN_K, WN_W)}),
f0 AS (SELECT DISTINCT doc_id, fp_hash FROM fps),
f AS (SELECT doc_id, fp_hash FROM (
        SELECT doc_id, fp_hash,
               count(*) OVER (PARTITION BY fp_hash) AS df
        FROM f0) WHERE df <= {max_df}),
sizes AS (SELECT doc_id, count(*) AS n FROM f GROUP BY 1),
p AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id,
             count(*) AS n_shared
      FROM f a JOIN f b USING (fp_hash)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= {min_shared})
SELECT p.left_id, p.right_id, CAST(p.n_shared AS INT) AS n_shared,
       p.n_shared::DOUBLE
         / (sa.n + sb.n - p.n_shared)::DOUBLE AS fp_jaccard
FROM p JOIN sizes sa ON sa.doc_id = p.left_id
       JOIN sizes sb ON sb.doc_id = p.right_id
"""


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED (r16) — NOT registered (r20 ALTERNATE candidate, backlog
    depth for the final-pairing call). Corpus duplication report
    (operators/graph.py::dedup_cluster_stats): cluster-size histogram
    of the MinHash-LSH dedup run with removable-doc counts and corpus
    fractions — the removal-rate table CCNet/RefinedWeb publish."""
    from .operators.graph import dedup_cluster_stats, dedup_components

    docs = load_table(spark, sf_dir, "documents")
    handles: list = []
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.5, cache_handles=handles, pinned=D.pins_for(sf_dir)
    )
    comps = dedup_components(pairs)
    for h in handles:
        h.unpersist()
    return dedup_cluster_stats(comps, spread(docs))


def _oracle_dedup_cluster_stats() -> str:
    return f"""
WITH RECURSIVE
{_dedup_components_ctes()},
cl AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
hist AS (
  SELECT sz AS cluster_size, count(*) AS n_clusters FROM cl GROUP BY sz
  UNION ALL
  SELECT CAST(1 AS BIGINT),
         (SELECT count(*) FROM documents)
           - coalesce((SELECT sum(sz) FROM cl), 0)
),
t AS (SELECT count(*) AS total FROM documents)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removable,
       ((cluster_size - 1) * n_clusters)::DOUBLE / t.total::DOUBLE
         AS removable_frac
FROM hist, t WHERE n_clusters > 0
"""
