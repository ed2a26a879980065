"""Text-analysis operators for the LLM-data-pipeline surface (north-star
extensions; SURVEY §7.2 M4): token stats, top terms, TF-IDF, language ID,
quality scoring, document fingerprinting.

Everything is built-in Catalyst expressions (split/explode/aggregates) —
no Python UDFs — so the operators stay in whole-stage codegen and scale
linearly with executors. Hashing uses the md5-hex trick from
``functions.text`` so DuckDB oracles can reproduce values exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_long, tokens
from ..sources.tables import spread

# Tiny embedded stopword lists for the language-ID heuristic (public,
# standard closed-class words). Deliberately small: the operator contract
# is "argmax of stopword-hit ratio per language", not linguistic accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ich", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "y", "de", "que", "en", "un", "por", "con"),
}


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token count / distinct count / mean token length."""
    toks = tokens(text_col)
    n = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return spread(df).select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        # raw double: a single IEEE division of two exact integers is
        # bit-identical cross-engine, while round(ratio, 6) diverges on
        # exact .5 ties (Spark HALF_UP vs DuckDB's multiply/rint path)
        (total_len.cast("double") / F.greatest(n, F.lit(1)).cast("double")).alias(
            "mean_token_len"
        ),
    )


def top_terms(
    df: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide term frequencies, top-k (tiebreak lexicographic).

    explode → hash agg; partial aggregation keeps the shuffle tiny at
    scale (term cardinality, not token count)."""
    # explode_outer + null-filter: a bare explode lets Catalyst push a
    # size(tokens)>0 filter into the scan, re-evaluating the tokenize per
    # row (see operators.dedup.ngram_jaccard_pairs)
    exploded = (
        spread(df)
        .select(F.explode_outer(tokens(text_col)).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    counts = exploded.groupBy("term").agg(F.count("*").alias("tf"))
    return counts.orderBy(F.col("tf").desc(), F.col("term").asc()).limit(k)


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Classic smoothed TF-IDF: tf(t,d) · ln((N+1)/(df+1)).

    Two hash aggregations; doc count enters as a broadcast scalar
    (cross-join of a 1-row aggregate — Catalyst broadcasts it)."""
    toks = (
        spread(df)
        .select(F.col(id_col), F.explode_outer(tokens(text_col)).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df")).filter(
        F.col("df") >= min_df
    )
    n_docs = df.select(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")),
                6,
            ).alias("tfidf"),
        )
    )


def lang_pred_expr(toks):
    """(pred_lang, best_score) expressions over a token-array column —
    the reusable core of :func:`language_id`, composable into fused
    single-scan pipelines (see queries_text.q_clean_corpus)."""
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    scores = [
        (
            lang,
            F.size(
                F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang]))
            ).cast("double")
            / n,
        )
        for lang in sorted(LANG_STOPWORDS)
    ]
    # argmax via greatest + chained when (deterministic tie → first lang asc)
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    for lang, s in reversed(scores):
        pred = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(pred)
    return pred, best


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """n-gram/stopword language-ID heuristic: score(lang) = fraction of
    tokens that are lang stopwords; predicted = argmax (ties → lang name
    ascending); 'und' (undetermined) if no stopword hits at all."""
    pred, best = lang_pred_expr(tokens(text_col))
    return spread(df).select(
        F.col(id_col),
        pred.alias("pred_lang"),
        # raw stopword-hit ratio (ints ÷ ints — bit-exact cross-engine;
        # rounding is the .5-tie hazard, see token_stats)
        best.alias("lang_score"),
    )


def quality_exprs(txt, toks):
    """(alpha_ratio, mean_tok_len, stop_ratio, quality) expressions over a
    text column + its token array — the reusable core of
    :func:`quality_score`."""
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    n_chars = F.greatest(F.length(txt), F.lit(1)).cast("double")
    alpha_ratio = (
        F.length(F.regexp_replace(txt, "[^a-zA-Z]", "")).cast("double") / n_chars
    )
    mean_tok_len = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / n_tok
    )
    len_band = F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 10.0), 1.0).otherwise(0.5)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))
    ).cast("double")
    stop_ratio = stop_hits / n_tok
    stop_band = F.when(stop_ratio > 0.05, 1.0).otherwise(0.6)
    # raw composite: exact-integer ratios × short decimal literals,
    # summed left-to-right — the oracle mirrors the operand order, so
    # every intermediate is the same IEEE double (no rounding, no ties)
    score = alpha_ratio * 0.4 + len_band * 0.3 + stop_band * 0.3
    return alpha_ratio, mean_tok_len, stop_ratio, score


def repetition_exprs(txt, toks):
    """Gopher-style repetition/noise signals (Rae et al. 2021 §A1.1, the
    published web-corpus quality rules) as pure Catalyst expressions over
    a text column + its token array:

    - ``top_word_frac``: occurrences of the most frequent token / tokens
      — computed as the max run length over the SORTED token array via a
      single struct fold (O(n log n + n) per row; the obvious
      count-each-distinct nested HOF is O(distinct × tokens) and
      measured 3× slower at sf0.1);
    - ``dup_2gram_frac``: 1 − distinct 2-grams / total 2-grams;
    - ``symbol_ratio``: non-alphanumeric-non-space chars / chars.
    """
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    n_chars = F.greatest(F.length(txt), F.lit(1)).cast("double")

    def step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_count = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        step,
        lambda acc: acc["best"],
    )
    top_word_frac = top_count.cast("double") / n_tok
    # length clamped to >= 0: slice() RAISES on negative length, and an
    # empty/1-token doc makes size-1 negative/zero (fixture docs never
    # do — found by the r11 fuzz layer, tests/test_fuzz_oracle.py)
    n_m1 = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, n_m1),
        F.slice(toks, 2, n_m1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_grams = F.size(grams)
    dup_2gram_frac = F.when(
        n_grams >= 1,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double")
        / n_grams.cast("double"),
    ).otherwise(F.lit(0.0))
    symbol_ratio = (
        F.length(F.regexp_replace(txt, "[a-zA-Z0-9\\s]", "")).cast("double")
        / n_chars
    )
    return top_word_frac, dup_2gram_frac, symbol_ratio


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher-rule repetition gate: the three signals of
    :func:`repetition_exprs` plus the published-threshold flag
    (top-word > 0.2, duplicated 2-grams > 0.4, or symbols > 0.3 ⇒
    ``flagged``) — the repetition companion to :func:`quality_score`'s
    composition signals. One scan, no shuffle, no UDF."""
    toks = tokens(text_col)
    top_word_frac, dup_2gram_frac, symbol_ratio = repetition_exprs(
        F.col(text_col), toks
    )
    flagged = (
        (top_word_frac > 0.2) | (dup_2gram_frac > 0.4) | (symbol_ratio > 0.3)
    )
    return df.select(
        F.col(id_col),
        # raw integer-ratio doubles (bit-exact cross-engine; rounding is
        # the .5-tie hazard — see token_stats)
        top_word_frac.alias("top_word_frac"),
        dup_2gram_frac.alias("dup_2gram_frac"),
        symbol_ratio.alias("symbol_ratio"),
        flagged.alias("flagged"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: alpha-char ratio, mean token length
    band, stopword presence — composite in [0, 1] (raw doubles, portable)."""
    alpha_ratio, mean_tok_len, stop_ratio, score = quality_exprs(
        F.col(text_col), tokens(text_col)
    )
    return spread(df).select(
        F.col(id_col),
        # raw integer-ratio doubles (see token_stats for the tie rationale)
        alpha_ratio.alias("alpha_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality"),
    )


# BPE-ish pretokenizer: letter runs, digit runs, single punctuation — the
# coarse shape GPT-style byte-pair pretokenization produces (public
# pattern family). Whitespace is an EXPLICIT char class, not `\s`: Java's
# `\s` includes \x0B (vertical tab) while RE2's does not, so `\s` would
# silently diverge between Spark and the DuckDB oracle on such input.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]"


def bpe_token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token counts under BOTH tokenizers: whitespace words
    and the BPE-ish regex (`BPE_PATTERN`) — the cost-estimation numbers
    an LLM-pipeline owner asks for ('how many tokens is this corpus?').
    Pure codegen'd expressions; raw ratio doubles hash cross-engine."""
    lowered = F.lower(F.col(text_col))
    ws = tokens(text_col)
    bpe = F.regexp_extract_all(lowered, F.lit(BPE_PATTERN), 0)
    n_ws = F.size(ws)
    n_bpe = F.size(bpe)
    return spread(df).select(
        F.col(id_col),
        n_ws.alias("n_words"),
        n_bpe.alias("n_bpe_tokens"),
        # raw integer-ratio double (see token_stats for the tie rationale)
        (n_bpe.cast("double") / F.greatest(n_ws, F.lit(1)).cast("double")).alias(
            "tokens_per_word"
        ),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprint: min md5-derived token hash
    (1-permutation MinHash) + full-text md5 — the cheap building block for
    containment checks and shard-local dedup."""
    toks = tokens(text_col)
    tok_hashes = F.transform(toks, lambda t: md5_long(t))
    return spread(df).select(
        F.col(id_col),
        F.array_min(tok_hashes).alias("min_token_hash"),
        F.md5(F.col(text_col)).alias("text_md5"),
    )


# PII patterns (public, standard shapes). Java regex and RE2 disagree on
# some escapes — these stick to portable character-class syntax so the
# DuckDB oracle (regexp_replace ... 'g') reproduces the rewrites exactly.
# Order matters: specific → general (emails before bare domains would
# matter if domains were scrubbed; here the classes are disjoint except
# card-vs-phone, resolved by scrubbing cards first).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b", "<CARD>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    # [+]? BEFORE \b: "\b\+?" can never match a leading plus — there is
    # no word boundary between whitespace and '+', but there IS one
    # between '+' and the first digit
    ("phone", r"[+]?\b(?:[0-9]{1,2}[- .]?)?\(?[0-9]{3}\)?[- .][0-9]{3}[- .][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII redaction — the compliance pass every training-data pipeline
    runs before anything else ships: emails, payment-card shapes, SSNs,
    phone numbers, and IPv4 literals replaced by typed placeholders,
    with per-class hit counts for the audit trail.

    Pure chained ``regexp_replace`` expressions — one scan, zero
    shuffles, whole-stage codegen; at 100 TB this runs at IO speed as a
    map-only rewrite. Hit counts come from length deltas of a per-class
    single-pattern scrub (exact, expression-only — no second tokenize
    pass, no UDF). Staged round 6 (pytest-verified, oracle-portable
    patterns); registry entry + DuckDB oracle planned for the r7
    rotation window.
    """
    txt = F.col(text_col)
    scrubbed = txt
    counts = []
    for name, pat, token in PII_PATTERNS:
        # hits BEFORE this class's rewrite, on the progressively-scrubbed
        # text so overlapping classes (card ⊃ phone-ish) never double-count
        removed = scrubbed
        scrubbed = F.regexp_replace(scrubbed, pat, token)
        # count = how many placeholder tokens this step introduced:
        # (len(after) - len(before) + hits*len(match...)) is unknowable per
        # match, so count placeholder occurrences delta instead
        before = F.length(removed) - F.length(
            F.regexp_replace(removed, F.lit(token), F.lit(""))
        )
        after = F.length(scrubbed) - F.length(
            F.regexp_replace(scrubbed, F.lit(token), F.lit(""))
        )
        counts.append(
            ((after - before) / F.lit(len(token))).cast("int").alias(f"n_{name}")
        )
    return spread(df).select(
        F.col(id_col),
        scrubbed.alias("clean_text"),
        *counts,
        F.md5(scrubbed).alias("clean_md5"),
    )


def bm25(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_score: bool = True,
) -> DataFrame:
    """BM25 top-k retrieval for a fixed query — the lexical ranking
    behind every retrieval/RAG stack (Lucene-style positive idf:
    ln((N - df + 0.5)/(df + 0.5) + 1)).

    Scale shape: NO corpus shuffle at all. Per-term tfs and the doc
    length come from pure array expressions over one scan (``tf_i =
    size(filter(toks, = term_i))`` — no explode, no self-join); the
    corpus statistics (N, Σdl, per-term df) are ONE 1-row aggregate
    broadcast back via cross-join; the final top-k is a per-partition
    heap (``TakeOrderedAndProject``). At 100 TB this is one map pass +
    a scalar agg + a k-row result.

    Cross-engine exactness: every float op is mirrored in the DuckDB
    oracle in identical order — per-term scores are summed left-to-
    right as an explicit expression chain (NOT a float aggregate, whose
    accumulation order is engine-defined); tf/df/dl/N are exact ints;
    a doc with tf=0 contributes an exact 0.0. The score contains ``ln``,
    which is NOT bit-reproducible across engines (Java Math.log vs two
    libm paths disagree by 1 ulp on real idf args — measured), so the
    score is rounded to 6 decimals like ``tf_idf`` — the kept-rounded
    class (transcendental outputs cannot land on a .5 tie at digit 7,
    CHANGES_r06 tie scan) — and the top-k ranks on the ROUNDED score so
    a 1-ulp flip can never reorder the boundary cross-engine."""
    if not query_terms:
        raise ValueError("bm25 requires at least one query term")
    toks = tokens(text_col)
    dl = F.size(toks)

    def _tf(term: str):
        # one-parameter lambda on purpose: a second parameter would make
        # F.filter pass the array INDEX into it
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    per_doc = spread(df).select(
        F.col(id_col),
        dl.alias("dl"),
        *[_tf(term).alias(f"tf_{i}") for i, term in enumerate(query_terms)],
    )
    glob = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + (F.lit(b) * F.col("dl").cast("double")) / avgdl
    )
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs").cast("double") - dfreq + F.lit(0.5))
            / (dfreq + F.lit(0.5))
            + F.lit(1.0)
        )
        s_i = idf * ((tf * F.lit(k1 + 1.0)) / (tf + norm))
        score = s_i if score is None else score + s_i
    n_hit = None
    for i in range(len(query_terms)):
        h = (F.col(f"tf_{i}") > 0).cast("int")
        n_hit = h if n_hit is None else n_hit + h
    # round_score=False is the tie-scan hook (scripts/tie_scan.py reads
    # the pre-round values to prove the .5-tie class stays empty)
    out_score = F.round(score, 6) if round_score else score
    return (
        per_doc.crossJoin(F.broadcast(glob))
        .filter(n_hit > 0)
        .select(
            F.col(id_col),
            F.col("dl"),
            n_hit.alias("n_hit_terms"),
            out_score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def passage_chunks(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG / long-context
    pretraining splitter (chunk i covers tokens [i·stride + 1,
    i·stride + window]; the last window is the first one containing
    the document's final token, so every token lands in ≥ 1 chunk and
    consecutive chunks overlap by window − stride). Token-less
    documents produce NO chunks.

    Chunk count is integer-exact: 1 + ceil(max(L − window, 0)/stride),
    with the ceil as (extra + stride − 1) div stride over NON-NEGATIVE
    ints only — Spark's div truncates toward zero while DuckDB's //
    floors, so the ``greatest(0, ·)`` runs BEFORE the division where
    the two rules agree.

    Scale shape: tokenize → sequence → explode → slice, one codegen'd
    projection chain with ZERO shuffles; output size is Σ n_chunks
    (linear in corpus tokens · window/stride). The tokenize runs in
    its own projection (the doc_shingles contract — multi-referenced
    heavy aliases are not collapsed)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    L = F.size("__toks")
    extra = F.greatest(F.lit(0), L - F.lit(window))
    n_chunks = (
        F.lit(1)
        + F.floor((extra + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    )
    # token-less docs: a NULL sequence explodes to zero rows — a
    # `filter(L > 0)` would instead be pushed below the tokenize
    # projection and re-inline the whole tokenize as a per-row scan
    # filter (the doc_shingles lesson; measured: 3 copies of the
    # tokenize subtree in the plan vs 1 this way)
    seq = F.when(L > 0, F.sequence(F.lit(0), n_chunks - F.lit(1)))
    c = toked.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(seq).alias("chunk_id"),
    )
    sl = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + F.lit(1), window
    )
    return c.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(sl).cast("int").alias("n_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


# Width of the position field in winnowing's encoded gram hash
# (hash·2^POS_BITS + (g − pos)). 30 bits ⇒ docs up to ~1B grams; the
# 32-bit hash + 30-bit position stay inside a signed 64-bit long.
# Module-level (not function-local) so the overflow guard is testable
# by monkeypatching the bound down to fixture scale.
_WN_POS_BITS = 30


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    w-hash window over the positional hash stream, and in each window
    select the RIGHTMOST minimal hash; the distinct (position, hash)
    selections are the document's fingerprints.

    The guarantee that makes this the robust companion to
    ``fingerprint``'s single min-hash: any shared substring of at least
    w + k − 1 tokens between two documents yields at least one IDENTICAL
    fingerprint hash in both — matching on fingerprints finds local
    (substring-level) overlap, not just whole-document similarity, at a
    gap-bounded density of selections (≈ 2/(w+1) of all grams).

    Positional note: canonical winnowing breaks window ties toward the
    RIGHTMOST minimum (fewer distinct selections as the window slides);
    implemented as ``size(sub) − position(min, reverse(sub)) + start``
    — pure integer/string arithmetic the DuckDB oracle replays exactly.

    Documents with fewer than w grams (but ≥ 1) winnow their single
    short window — one fingerprint, the global min — matching the
    paper's short-input degeneration. Token-less / sub-k docs emit
    nothing.

    Scale shape: a projection chain — tokenize → position-ENCODED gram
    hashes → sparse-table sliding min → decode → array_distinct →
    explode — with ZERO shuffles and no UDF; output is
    ≤ grams/⌈(w+1)/2⌉ rows per doc. At 100 TB this is embarrassingly
    parallel per input split. BOTH the tokenize and the hash array
    live in their OWN projections (the doc_shingles contract — see
    passage_chunks): inlining the hash transform would re-evaluate the
    full md5 chain per consumer — measured 37× the whole query's cost
    at sf0.1 (25.1 s inlined → 0.67 s materialized, same scale_proof
    protocol).

    Per-window cost (the r13 verdict's 43×@100× item): the original
    form re-sliced the hash array per window
    (slice/array_min/reverse/array_position = O(g·w) element ops per
    doc). This form is the "precomputed min positions" plan: each
    positional hash is encoded as ``hash·2²⁰ + (g − pos)`` — a single
    BIGINT whose MINIMUM over any window IS the rightmost-minimal
    selection (smaller hash dominates the 2²⁰ scale; among equal
    hashes the smaller ``g − pos`` means the larger pos) — then a
    sparse-table doubling ladder (level j holds width-2ʲ mins, each
    level one O(g) zip of the previous) gives every width-w window min
    as ``least(m_p[j], m_p[j + w − p])`` with p = 2^⌊log₂w⌋: O(g·log w)
    integer ops total, and the md5 work is unchanged. Bound: positions
    occupy ``_WN_POS_BITS`` = 30 bits (docs ≤ ~1B grams) under the
    8-hex-digit (32-bit) gram hash — 62 bits total, inside long; a doc
    beyond the bound raises loudly (``raise_error``) rather than
    silently overflowing the position field into the hash bits (the
    fail-loudly convention). The decoded output is POS_BITS-invariant,
    so the width is purely a capacity knob. Wall time remains per-row
    CPU (the linear class, like ngram_jaccard_dedup's tokenize), at a
    ~w/log₂w-smaller constant."""
    import math

    POS_BITS = _WN_POS_BITS
    enc_scale = 1 << POS_BITS
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    g0 = F.size("__toks") - F.lit(k - 1)  # positional gram count
    # positional (NOT distinct) encoded gram hashes: position is part
    # of the fingerprint identity, so token_shingles' array_distinct is
    # wrong here. NULL (not empty) for sub-k docs — the guard keeps
    # sequence(1, g<=0) descending-range semantics out, and NULL
    # propagates through size/when below so the explode emits nothing.
    # The > 2^POS_BITS branch fails LOUDLY: g − i must fit the position
    # field or the min-encoding tie-break is silently corrupted.
    enc0 = F.when(
        g0 >= 1,
        F.when(
            g0 > F.lit(enc_scale),
            F.raise_error(
                F.concat(
                    F.lit(
                        "winnowing_fingerprints: document exceeds "
                        f"2^{POS_BITS} grams — the encoded position would "
                        "overflow into the hash bits; widen _WN_POS_BITS "
                        "(doc "
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(")"),
                )
            ),
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), g0),
                lambda i: md5_long(
                    F.concat_ws(" ", F.slice(F.col("__toks"), i, k))
                )
                * F.lit(enc_scale)
                + (g0 - i).cast("long"),
            )
        ),
    )
    cur = toked.select(F.col(id_col), enc0.alias("__m1"))
    p = 1 << int(math.floor(math.log2(w)))
    lvl, name = 1, "__m1"
    while lvl < p:
        nxt, prev = lvl * 2, name
        cnt = F.size(F.col(prev)) - F.lit(lvl)  # next length = g - nxt + 1

        def _zip_min_fn(_prev: str, _step: int):
            # closure factory: F.transform inspects the callable's
            # parameter COUNT, so default-arg binding would read as a
            # two-arg (value, index) lambda
            return lambda x: F.least(
                F.element_at(F.col(_prev), x),
                F.element_at(F.col(_prev), x + F.lit(_step)),
            )

        arr = F.when(
            cnt >= 1, F.transform(F.sequence(F.lit(1), cnt), _zip_min_fn(prev, lvl))
        )
        name = f"__m{nxt}"
        # each level in its OWN projection: the next level reads it
        # twice per element (the doc_shingles materialization contract)
        cur = cur.select(F.col(id_col), F.col("__m1"), arr.alias(name))
        lvl = nxt
    g = F.size("__m1")
    mp = F.col(name)
    # clamp to ≥ 1: for 1 ≤ g < w the whole `win` value is discarded by
    # the CaseWhen below, but the expression must be UNCONDITIONALLY
    # safe (no descending sequence(1, n<=0), no reliance on lazy branch
    # evaluation / no-hoisting) — hence the clamp plus try_element_at,
    # which returns NULL (never throws, even under ANSI) on the
    # out-of-range probes those discarded rows produce. On the live
    # g ≥ w branch both indices are always in bounds, so try_element_at
    # is value-identical to element_at.
    n_windows = F.greatest(g - F.lit(w - 1), F.lit(1))
    win = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.least(
            F.try_element_at(mp, j), F.try_element_at(mp, j + F.lit(w - p))
        ),
    )
    # docs with 1 ≤ g < w winnow their single short window (the paper's
    # short-input degeneration): the global min of the encoded stream
    sel_enc = (
        F.when(g >= w, win)
        .when(g >= 1, F.array(F.array_min(F.col("__m1"))))
    )
    sel = F.array_distinct(
        F.transform(
            sel_enc,
            lambda e: F.struct(
                (g - (e % F.lit(enc_scale))).cast("int").alias("fp_pos"),
                F.shiftright(e, POS_BITS).alias("fp_hash"),
            ),
        )
    )
    # sub-k docs: __m1 is NULL → g is NULL → sel_enc is NULL and the
    # explode emits zero rows, without a filter that would re-inline
    # the hash subtree below the projection (the passage_chunks lesson)
    fp = cur.select(F.col(id_col), F.explode(sel).alias("__fp"))
    return fp.select(
        F.col(id_col),
        F.col("__fp.fp_pos").alias("fp_pos"),
        F.col("__fp.fp_hash").alias("fp_hash"),
    )


def bpe_merge_step(
    df: DataFrame, top_n: int = 32, text_col: str = "text"
) -> DataFrame:
    """One distributed BPE merge iteration (Sennrich, Haddow & Birch,
    ACL 2016): pre-tokenize the corpus with ``BPE_PATTERN``, count word
    frequencies, then count ADJACENT CHARACTER PAIRS weighted by word
    frequency — the top-``top_n`` pairs (count desc, pair asc) are the
    merge candidates a tokenizer trainer would fuse this round.

    Duplicate pairs within a word count once per occurrence ("aaa"
    contributes "aa" twice), exactly as the published algorithm counts.

    Scale shape — why this is THE way to train a tokenizer on 100 TB:
    the corpus collapses to its VOCABULARY after the first aggregate
    (distinct words ≪ corpus tokens; both aggregates are map-side
    partial), so the expensive explode-per-character work runs on the
    vocabulary, not the corpus. Two bounded shuffles (word key, pair
    key) and a TakeOrderedAndProject — no window, no driver loop."""
    words = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0)
        ).alias("word")
    )
    wf = words.groupBy("word").agg(F.count("*").alias("freq"))
    pairs_arr = F.transform(
        F.sequence(F.lit(1), F.length("word") - F.lit(1)),
        lambda i: F.col("word").substr(i, F.lit(2)),
    )
    pe = (
        wf.filter(F.length("word") >= 2)
        .select(F.explode(pairs_arr).alias("pair"), "freq")
    )
    return (
        pe.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# Gopher char-fraction repetition suite (staged r14, r16 registration
# candidate)
# ---------------------------------------------------------------------------

# (n, kind, threshold) — Rae et al. 2021 Table A1: a document is
# repetition-flagged when the fraction of characters in the most
# frequent n-gram exceeds 0.20/0.18/0.16 (n = 2/3/4), or the fraction
# of characters in DUPLICATED n-grams exceeds 0.15/0.14/0.13
# (n = 5/6/7; the paper runs dup out to n=10 — the fixture docs are
# 30-80 tokens, so 8-10-grams would be all-zero rows).
REPETITION_RULES: tuple[tuple[int, str, float], ...] = (
    (2, "top", 0.20),
    (3, "top", 0.18),
    (4, "top", 0.16),
    (5, "dup", 0.15),
    (6, "dup", 0.14),
    (7, "dup", 0.13),
)


def repetition_ngram_fractions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: tuple[tuple[int, str, float], ...] = REPETITION_RULES,
) -> DataFrame:
    """Gopher repetition gate, the char-fraction half (Rae et al. 2021
    §A1.1): per document and n-gram size, the fraction of characters
    covered by (a) the MOST FREQUENT n-gram ("top") or (b) all
    n-grams occurring more than once ("dup"), with the published
    per-(n, kind) threshold flag. Complements
    :func:`gopher_quality`'s token-count signals (top-word fraction,
    dup-2-gram token fraction) — these are the character-mass rules
    that catch long-span boilerplate the token counts miss.

    Measure contract (cross-engine exact): tokens are the engine-wide
    ``tokens()`` fold (lower, trim, split ``\\s+``); an n-gram's char
    mass is ``count × length(gram)`` with the single-space joiner
    counted (the paper is agnostic on separators); the denominator is
    ``length(trim(text))``; "top" ties break by larger char mass (so
    the numerator is well-defined without comparing gram strings);
    "dup" char mass is capped at the denominator (overlapping
    occurrences can over-count). All fractions are integer-ratio
    doubles — bit-exact cross-engine, no rounding.

    Output (long format): ``(doc_id, n, kind, n_chars, gram_chars,
    frac, flagged)`` — one row per document per rule.

    Scale shape: one explode of Σ|rules| shingle passes fused into the
    scan; exchange 1 keys (doc, n, gram) — cardinality ≈ tokens ×
    |rules|, uniformly spread (the gram string is in the key, so a hot
    template never makes a hot key); exchange 2 keys (doc, n) with
    map-side partial aggregation. No window, no UDF, no driver state.
    """
    toks = tokens(F.col(text_col))
    nc = F.length(F.trim(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("_id"), nc.alias("_nc"), toks.alias("_t")
    )

    # ONE scan, ONE tokenize, TWO explodes: first explode the 6-row
    # rule literal against each doc (the token array rides along), then
    # build that row's n-grams with a DYNAMIC-n slice and explode them.
    # Three plans were A/B-measured at staging (SCALE_100X r14 note):
    # a 6-way UNION of per-n branches re-scans and re-tokenizes the
    # corpus six times (9.3 s @10×); concatenating six struct-tagged
    # shingle arrays into one giant per-row array before the explode
    # pays its allocation at scale (14.6 s @10×, worse at 100×); this
    # rules-first shape wins or ties everywhere (7.4 s @10×, tie @100×).
    rules_arr = F.array(
        *[
            F.struct(F.lit(n).alias("n"), F.lit(kind).alias("kind"))
            for n, kind, _thr in rules
        ]
    )
    r = base.select("_id", "_nc", "_t", F.explode(rules_arr).alias("_r"))
    ncol = F.col("_r.n")
    cnt_g = F.size("_t") - ncol + F.lit(1)
    sh = F.when(
        cnt_g >= 1,
        F.transform(
            F.sequence(F.lit(1), cnt_g),
            lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, ncol)),
        ),
    )
    exploded = r.select(
        "_id",
        "_nc",
        ncol.alias("n"),
        F.col("_r.kind").alias("kind"),
        F.explode(sh).alias("_g"),
    )
    counted = exploded.groupBy("_id", "n", "kind", "_g").agg(
        F.count(F.lit(1)).alias("_cnt"), F.max("_nc").alias("_nc2")
    )
    gram_mass = F.col("_cnt") * F.length(F.col("_g"))
    per_doc = counted.groupBy("_id", "n", "kind").agg(
        F.max("_nc2").alias("n_chars"),
        # top: lexicographic struct max = among max-count grams, the
        # largest char mass — deterministic without gram-string order
        F.max(F.struct(F.col("_cnt"), gram_mass.alias("_m"))).alias("_top"),
        F.sum(F.when(F.col("_cnt") >= 2, gram_mass).otherwise(F.lit(0))).alias(
            "_dup"
        ),
    )
    thr_expr = None
    for n, kind, thr in rules:
        cond = (F.col("n") == n) & (F.col("kind") == kind)
        thr_expr = (
            F.when(cond, F.lit(thr))
            if thr_expr is None
            else thr_expr.when(cond, F.lit(thr))
        )
    gram_chars = F.when(
        F.col("kind") == "top", F.col("_top._m")
    ).otherwise(F.least(F.col("_dup"), F.col("n_chars")))
    frac = gram_chars.cast("double") / F.greatest(
        F.col("n_chars"), F.lit(1)
    ).cast("double")
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n",
        "kind",
        "n_chars",
        gram_chars.cast("long").alias("gram_chars"),
        frac.alias("frac"),
        (frac > thr_expr).alias("flagged"),
    )


def ngram_novelty_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    stale_below: float = 0.5,
    cache_handles: list | None = None,
) -> DataFrame:
    """First-occurrence n-gram novelty: for each document, the fraction
    of its DISTINCT n-grams whose globally FIRST occurrence (minimum
    ``id_col``) is this document — "how much new content does this doc
    add to the corpus in ingestion order?", the per-document form of the
    duplicate-text value argument in Lee et al. 2022. A doc whose
    novelty falls below ``stale_below`` is flagged ``is_stale`` (most of
    its content already exists earlier in the corpus — the candidates
    exact/near dedup would keep only one of).

    Output: ``(doc_id, n_grams, n_novel, novelty_frac, is_stale)``;
    ``novelty_frac`` is the integer-ratio double.

    Scale shape: ONE tokenize→shingle→hash pass fused into the scan;
    exchange 1 = the distinct (doc, gram) aggregate, exchange 2 = the
    gram-keyed min-doc aggregate (both map-side partial; the gram hash
    is in the key so hot templates spread), exchange 3 = the gram-keyed
    join of the two (co-partitioned with exchange 2's output), and a
    final doc-keyed aggregate. No window, no UDF, no driver state;
    every step linear in distinct grams."""
    from .decontam import _gram_hashes
    from .dedup import _opt_persist

    # the distinct (doc, gram-hash) table is consumed by BOTH the
    # first-occurrence aggregate and the join side — persist under the
    # dedup-family cache contract so the scan→tokenize→md5→distinct
    # pipeline runs once, not twice (caller unpersists via handles).
    e = _opt_persist(
        _gram_hashes(df, id_col, text_col, n).distinct(), cache_handles
    )
    first = e.groupBy("h").agg(F.min("_id").alias("_first"))
    per_doc = (
        e.join(first, "h")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("_first") == F.col("_id")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    frac = F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_grams",
        "n_novel",
        # raw integer-ratio double (bit-exact cross-engine)
        frac.alias("novelty_frac"),
        (frac < F.lit(stale_below)).alias("is_stale"),
    )


def exact_substring_spans(
    df: DataFrame,
    L: int = 8,
    flag_above: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_handles: list | None = None,
) -> DataFrame:
    """ExactSubstr duplication profile (Lee, Ippolito, Nystrom et al.,
    ACL 2022 "Deduplicating Training Data Makes Language Models
    Better", §4.1 — token-level form): an L-token span duplicated
    ANYWHERE in the corpus (across documents or within one) marks its
    tokens; per document, report how many of its tokens sit inside at
    least one duplicated span. The paper removes those spans before
    training; this operator computes the span map + coverage (the
    decision input), keeping removal a trivial downstream slice.

    Spark-first re-expression of the paper's suffix array: a suffix
    array finds repeated substrings of length ≥ L; the set of repeated
    L-grams is EXACTLY the same information (any repeat of length
    ≥ L contains a repeated L-gram at every offset, and coverage of
    the union of repeated-L-gram spans equals coverage of maximal
    repeats). Rolling the corpus into positional L-gram hashes turns
    the suffix-array construction into two hash aggregates — the
    shape that scales on 1000 executors where a distributed suffix
    array would not.

    Plan: tokenize → positional L-gram 60-bit hashes (own projections
    per the doc_shingles materialization contract; posexplode_OUTER +
    null-filter per the InferFiltersFromGenerate lesson) → global
    per-hash count (map-side partial) keeps hashes seen ≥ 2 times →
    gram⋈dup equi-join on the hash → per-doc sorted-position window
    where each duplicated span adds ``least(L, pos − lag(pos))`` new
    tokens (all spans share length L, so interval ends are monotone —
    the union-coverage fold needs no interval merge) → one left join
    back to per-doc token counts so zero-duplication docs report 0.

    Shuffles: gram-hash (count + join reuse the partitioning), doc_id
    (window + agg reuse), final doc-level join — all keyed, no
    cartesian, wire carries (hash, pos) pairs, never text. 60-bit
    hashes make a false span ~2⁻⁶⁰ per pair — the paper's own
    Bloom/hash variants accept the same class of error.

    Output (docs with ≥ 1 token): ``n_tokens``, ``n_dup_spans``
    (duplicated L-windows in the doc), ``dup_token_cov`` (tokens under
    the span union), ``dup_frac``, ``flagged`` (> flag_above).
    Reference: /root/reference/app.py (no counterpart — north-star
    training-data extension, SURVEY §2.11 dedup family)."""
    from ..functions.text import md5_long, tokens

    from ..operators.dedup import _opt_persist

    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    n_tok = F.size("__toks")
    g0 = n_tok - F.lit(L - 1)
    hs = F.when(
        g0 >= 1,
        F.transform(
            F.sequence(F.lit(1), g0),
            lambda i: md5_long(
                F.concat_ws(" ", F.slice(F.col("__toks"), i, L)), digits=15
            ),
        ),
    )
    doc_stats = toked.select(F.col(id_col), n_tok.alias("n_tokens")).filter(
        F.col("n_tokens") >= 1
    )
    hashed = toked.select(F.col(id_col), hs.alias("__hs"))
    # r17: the positional gram-hash stream feeds BOTH the dup-count
    # aggregate and the marking join — persist under the dedup-family
    # cache contract so the scan→tokenize→L-gram-md5 pipeline (the
    # operator's dominant CPU) runs once, not twice.
    grams = _opt_persist(
        hashed.select(
            F.col(id_col), F.posexplode_outer("__hs").alias("pos0", "h")
        ).filter(F.col("h").isNotNull()),
        cache_handles,
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("h")
    )
    marked = grams.join(dup, "h").select(F.col(id_col), F.col("pos0"))
    w = Window.partitionBy(id_col).orderBy("pos0")
    added = F.coalesce(
        F.least(F.lit(L), F.col("pos0") - F.lag("pos0").over(w)),
        F.lit(L),
    ).cast("long")
    cov = (
        marked.select(F.col(id_col), added.alias("__added"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum("__added").alias("dup_token_cov"),
        )
    )
    frac = F.col("dup_token_cov").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    return doc_stats.join(cov, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0).cast("long")).alias(
            "n_dup_spans"
        ),
        F.coalesce(F.col("dup_token_cov"), F.lit(0).cast("long")).alias(
            "dup_token_cov"
        ),
        F.coalesce(frac, F.lit(0.0)).alias("dup_frac"),
        (F.coalesce(frac, F.lit(0.0)) > F.lit(flag_above)).alias("flagged"),
    )


def language_confidence(
    df: DataFrame,
    min_margin: float = 0.02,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document-level language-CONFIDENCE gate (the CCNet rule — Wenzek
    et al. 2020 §3.1 keep docs whose LID score clears a threshold;
    fastText-style confidence re-expressed over this engine's stopword
    LID): alongside :func:`language_id`'s argmax, report the RUNNER-UP
    language score and the margin between them, and gate on
    ``best > 0 AND margin >= min_margin`` — a doc whose top two
    language scores are close is code-switched, boilerplate, or noise,
    and every crawl pipeline drops or routes those before training.

    All per-row Catalyst expressions (exact int/int ratio doubles,
    one subtraction — bit-identical cross-engine, the language_id
    class): tokenize in its own projection, the four per-language
    scores named in a second projection (each referenced twice —
    argmax chain + sort — so inlining would double the stopword
    filters), argmax + sorted-pair margin in the third. ZERO shuffles;
    at 100 TB this fuses into the scan like language_id.

    Output: ``pred_lang``, ``lang_score`` (best), ``second_score``,
    ``margin``, ``is_confident``.
    Reference: /root/reference/app.py (no counterpart — north-star
    extension, SURVEY §2.11; language_id sibling)."""
    from ..functions.text import tokens

    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    n = F.greatest(F.size("__toks"), F.lit(1)).cast("double")
    langs = sorted(LANG_STOPWORDS)
    sc = toked.select(
        F.col(id_col),
        *[
            (
                F.size(
                    F.filter(
                        F.col("__toks"), lambda t: t.isin(*LANG_STOPWORDS[lang])
                    )
                ).cast("double")
                / n
            ).alias(f"__s_{lang}")
            for lang in langs
        ],
    )
    arr = F.array_sort(F.array(*[F.col(f"__s_{lang}") for lang in langs]))
    best = F.element_at(arr, -1)
    second = F.element_at(arr, -2)
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"__s_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    margin = best - second
    return sc.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best.alias("lang_score"),
        second.alias("second_score"),
        margin.alias("margin"),
        ((best > 0) & (margin >= F.lit(min_margin))).alias("is_confident"),
    )


def token_entropy(
    df: DataFrame,
    templated_below: int = 2_500_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the doc's OWN unigram
    distribution, in integer micro-nats — the templated/boilerplate
    screen (low entropy ⇒ a few tokens dominate ⇒ generated or
    navigational text; Shannon 1948, applied as in the Gopher/C4
    repetition family but distribution-wide instead of top-gram).

    H = ln(n) − (Σ_tok c·ln c)/n over per-doc token counts c. Exact
    cross-engine via the dsir/perplexity quantization contract
    (operators/mixing.py): each DISTINCT token contributes
    ``lam_q = round(ln(c)·10⁶)`` — ONE correctly-rounded int→double
    cast into the single 1-ulp ``ln``, rounded to integer micro-units
    — so the per-doc sum ``Σ c·lam_q`` is an INTEGER sum (commutative,
    order-free across partitions), and
    ``entropy_micro = round(ln(n)·10⁶) − S_q div n`` is integer
    arithmetic both engines replay exactly (±1 micro-nat quantization,
    deterministic). ``is_templated = entropy_micro < templated_below``
    (default 2.5 nats ≈ fewer than ~12 effective distinct tokens).

    Plan: explode → (doc, token) count → per-doc aggregate: two keyed
    exchanges, both map-side partial; wire carries (id, count) pairs.
    Token-less docs emit no row (the repetition_quality convention).
    Reference: /root/reference/app.py (no counterpart — north-star
    extension, SURVEY §2.11; quality family sibling)."""
    from ..functions.text import tokens

    exploded = (
        df.select(
            F.col(id_col), F.explode_outer(tokens(text_col)).alias("__tok")
        )
        .filter(F.col("__tok").isNotNull())
    )
    per_tok = exploded.groupBy(id_col, "__tok").agg(
        F.count(F.lit(1)).alias("__c")
    )
    lam_q = F.round(F.log(F.col("__c").cast("double")) * F.lit(1e6)).cast(
        "long"
    )
    per_doc = per_tok.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("__c") * lam_q).alias("__s_q"),
    )
    ln_n_q = F.round(
        F.log(F.col("n_tokens").cast("double")) * F.lit(1e6)
    ).cast("long")
    ent = (ln_n_q - F.expr("__s_q div n_tokens")).alias("entropy_micro")
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("n_distinct"),
        ent,
        (
            ln_n_q - F.expr("__s_q div n_tokens")
            < F.lit(templated_below).cast("long")
        ).alias("is_templated"),
    )


def _bpe_fuse(syms, a, b):
    """Greedy left-to-right NON-OVERLAPPING fuse of adjacent symbol pair
    (a, b) → a||b over a symbol array — exactly the reference BPE merge
    application (Sennrich et al. 2016's replace pass): scanning left,
    a symbol joins the previous one iff (prev, cur) == (a, b); a just-
    fused symbol can immediately fuse again only if the MERGED token
    matches `a` (the "aaa" + (a,a) → [aa, a] rule). NULL a/b (a round
    that found no pair) is the identity — the condition is NULL and
    every symbol appends (how the unrolled oracle replays early-stop
    rounds without branching on emptiness)."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (s == b),
            F.concat(
                F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
                F.array(F.concat(a, b)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train_encode(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    cache_handles: list | None = None,
) -> DataFrame:
    """FULL distributed BPE tokenizer training + corpus encoding
    (Sennrich, Haddow & Birch, ACL 2016 — the complete learn_bpe +
    apply_bpe loop, not just one merge round): ``n_merges`` iterations
    of [count adjacent symbol pairs weighted by word frequency → fuse
    the most frequent pair everywhere (ties: count desc, then pair
    lexicographic)], then encode the corpus with the learned merges and
    return the token vocabulary with occurrence counts.

    Scale shape — why tokenizer training distributes this way: the
    corpus collapses to its VOCABULARY after one map-side-partial
    aggregate (distinct words ≪ corpus tokens), so every training round
    runs on the small (word, freq, syms) table: one pair-count
    aggregate (two bounded shuffles) + one driver-collected argmax row
    (the kmeans_train_assign driver-loop precedent — k tiny jobs, k×2
    strings of driver state) + one codegen'd per-row fuse fold. The
    merge literals embed in the plan, so the returned DataFrame's
    lineage is deterministic and persist-free after
    ``materialize_and_release``. Cache ownership (r15 ADVICE): with
    ``cache_handles`` the caller owns release (the registry path hands
    every round's persist to ``materialize_and_release``); WITHOUT it,
    each round unpersists the segmentation it superseded as soon as
    the argmax collect has materialized its child — a direct caller
    pins at most the last two small vocab tables (needed so the
    returned lineage reads a cache, not an n-deep recompute), never
    n_merges+1. Rounds that find no pair (vocabulary
    already fused to single symbols) record a NULL merge — the fuse
    fold degrades to identity, and the unrolled DuckDB oracle replays
    the same via LEFT JOIN of its possibly-empty per-round argmax CTE.

    Output: ``(token, n_occurrences)`` — the trained subword vocabulary
    applied to the corpus. Reference: /root/reference/app.py (no
    counterpart — north-star extension, SURVEY §2.11 tokenizer
    family; bpe_merge_step is this loop's single round)."""
    words = (
        df.select(
            F.explode_outer(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0
                )
            ).alias("word")
        )
        .filter(F.col("word").isNotNull())
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    seg = vocab.select(
        "word",
        "freq",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.substring("word", i, F.lit(1)),
        ).alias("syms"),
    ).persist()
    if cache_handles is not None:
        cache_handles.append(seg)
    prev: DataFrame | None = None
    for _ in range(n_merges):
        pair_arr = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i).alias("a"),
                    F.element_at(F.col("syms"), i + F.lit(1)).alias("b"),
                ),
            ),
        )
        top = (
            seg.select(F.col("freq"), F.explode_outer(pair_arr).alias("p"))
            .filter(F.col("p").isNotNull())
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        a, b = (top[0].a, top[0].b) if top else (None, None)
        # the collect above materialized `seg`; its parent segmentation
        # is superseded — in self-managed mode release it now
        if cache_handles is None and prev is not None:
            prev.unpersist()
        new_seg = seg.select(
            "word",
            "freq",
            _bpe_fuse(
                F.col("syms"),
                F.lit(a).cast("string"),
                F.lit(b).cast("string"),
            ).alias("syms"),
        ).persist()
        if cache_handles is not None:
            cache_handles.append(new_seg)
        prev, seg = seg, new_seg
    return (
        seg.select(F.explode_outer("syms").alias("token"), F.col("freq"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("freq").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# r19 registration candidates — staged r16 under the full discipline
# (Python reference + 3-SF oracle parity + plan pin in
# tests/test_staged_ops.py, generated-corpus fuzz rows in
# tests/test_fuzz_oracle.py::test_fuzz_staged_r19_text_ops).
# ---------------------------------------------------------------------------

# Rae et al. 2021 (Gopher) Table A1 document/word-length screens — the
# length complement of gopher_quality's repetition signals and
# repetition_ngram_fractions' char-mass rules. Published thresholds.
GOPHER_LENGTH_RULES = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "min_alpha_word_frac": 0.8,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
}


def line_exprs(txt) -> "F.Column":
    """Non-empty trimmed lines of a text column (array<string>). The
    trim is an explicit ``[ \\t\\r]`` class: Java's ``\\s`` includes
    \\x0B while RE2's does not, so ``\\s`` would silently diverge
    between Spark and the DuckDB oracle (the BPE_PATTERN lesson)."""
    return F.filter(
        F.transform(
            F.split(txt, "\n"),
            lambda l: F.regexp_replace(l, r"^[ \t\r]+|[ \t\r]+$", ""),
        ),
        lambda l: l != "",
    )


def gopher_length_screen(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher Table-A1 length screens (Rae et al. 2021): per document,
    word count, mean word length, alphabetic-word fraction, bullet-line
    and ellipsis-line fractions, and the published-threshold ``passes``
    flag (GOPHER_LENGTH_RULES). The length complement of
    :func:`gopher_quality` (repetition ratios) and
    :func:`repetition_ngram_fractions` (char-mass rules).

    Scale shape: pure per-row codegen'd expressions over ONE corpus
    scan — zero shuffle, zero UDF, trivially linear at 100 TB. The
    token and line arrays each materialize in their OWN projection
    (the CollapseProject/doc_shingles contract) so the regex split
    runs once per row, not once per expression that references it.
    All ratios are raw int/int doubles — bit-exact cross-engine.

    Reference: /root/reference/app.py (no counterpart — north-star
    extension, SURVEY §2.11 quality family)."""
    R = GOPHER_LENGTH_RULES
    base = spread(df).select(
        F.col(id_col),
        tokens(text_col).alias("__toks"),
        line_exprs(F.col(text_col)).alias("__lines"),
    )
    toks, lines = F.col("__toks"), F.col("__lines")
    n_words = F.size(toks)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = (
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast(
            "double"
        )
        / nw
    )
    alpha_word_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / nw
    )
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_line_frac = (
        F.size(
            F.filter(
                lines, lambda l: l.startswith("- ") | l.startswith("* ")
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_line_frac = (
        F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("double")
        / n_lines
    )
    passes = (
        (n_words >= R["min_words"])
        & (n_words <= R["max_words"])
        & (mean_word_len >= R["min_mean_word_len"])
        & (mean_word_len <= R["max_mean_word_len"])
        & (alpha_word_frac > R["min_alpha_word_frac"])
        & (bullet_line_frac <= R["max_bullet_line_frac"])
        & (ellipsis_line_frac <= R["max_ellipsis_line_frac"])
    )
    return base.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_word_frac.alias("alpha_word_frac"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        passes.alias("passes"),
    )


# FineWeb (Penedo et al. 2024) / C4 (Raffel et al. 2020) composed
# keep/drop rules, applied in a FIXED order so drop attribution is
# deterministic: language gate, Gopher word-count bounds, Gopher
# mean-word-length band, Gopher repetition caps, C4 terminal-
# punctuation line fraction (FineWeb's 0.12 threshold).
FINEWEB_RULE_ORDER = ("lang", "n_words", "mean_word_len", "repetition", "punct")
FINEWEB_PUNCT_MIN_FRAC = 0.12


def fineweb_filter_chain(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
) -> DataFrame:
    """The composed FineWeb-style corpus filter (Penedo et al. 2024;
    rules from C4 + Gopher): per document, one boolean per rule, the
    overall ``keep`` decision, and ``first_failed`` — the first rule
    (in FINEWEB_RULE_ORDER) that rejected the doc, NULL when kept.
    Per-rule drop attribution is how pipeline owners tune a filter
    chain (FineWeb reports exactly these removal rates per step).

    Rules: pred_lang == ``lang`` with a positive stopword score
    (:func:`lang_pred_expr`); 50 ≤ words ≤ 100k and 3 ≤ mean word
    length ≤ 10 (GOPHER_LENGTH_RULES); top-word ≤ 0.2 and duplicated
    2-grams ≤ 0.4 (:func:`repetition_exprs`); ≥ 12% of lines end in
    terminal punctuation (./!/?/") — FineWeb's C4-subset threshold.

    Scale shape: every rule is a per-row codegen'd expression fused
    into ONE corpus scan — zero shuffle, zero UDF, no joins between
    rule stages (the naive composition materializes one DataFrame per
    filter and joins them back). Generalizes q_clean_corpus's
    quality-gate stage with attribution.

    Reference: /root/reference/app.py (no counterpart — north-star
    extension, SURVEY §2.11 quality family)."""
    R = GOPHER_LENGTH_RULES
    base = spread(df).select(
        F.col(id_col),
        F.col(text_col),
        tokens(text_col).alias("__toks"),
        line_exprs(F.col(text_col)).alias("__lines"),
    )
    toks, lines = F.col("__toks"), F.col("__lines")
    pred, _best = lang_pred_expr(toks)
    r_lang = pred == lang
    n_words = F.size(toks)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = (
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast(
            "double"
        )
        / nw
    )
    r_words = (n_words >= R["min_words"]) & (n_words <= R["max_words"])
    r_mean = (mean_word_len >= R["min_mean_word_len"]) & (
        mean_word_len <= R["max_mean_word_len"]
    )
    top_word_frac, dup_2gram_frac, _sym = repetition_exprs(
        F.col(text_col), toks
    )
    r_rep = (top_word_frac <= 0.2) & (dup_2gram_frac <= 0.4)
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    punct_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: l.endswith(".")
                | l.endswith("!")
                | l.endswith("?")
                | l.endswith('"'),
            )
        ).cast("double")
        / n_lines
    )
    r_punct = punct_frac >= FINEWEB_PUNCT_MIN_FRAC
    rules = {
        "lang": r_lang,
        "n_words": r_words,
        "mean_word_len": r_mean,
        "repetition": r_rep,
        "punct": r_punct,
    }
    keep = r_lang & r_words & r_mean & r_rep & r_punct
    first_failed = F.lit(None).cast("string")
    for name in reversed(FINEWEB_RULE_ORDER):
        first_failed = F.when(~rules[name], F.lit(name)).otherwise(
            first_failed
        )
    return base.select(
        F.col(id_col),
        rules["lang"].alias("r_lang"),
        rules["n_words"].alias("r_n_words"),
        rules["mean_word_len"].alias("r_mean_word_len"),
        rules["repetition"].alias("r_repetition"),
        rules["punct"].alias("r_punct"),
        keep.alias("keep"),
        first_failed.alias("first_failed"),
    )


# ---------------------------------------------------------------------------
# r20 registration candidates — staged r16 under the full discipline
# (Python reference + 3-SF oracle parity + plan pin in
# tests/test_staged_ops.py, generated-corpus fuzz rows in
# tests/test_fuzz_oracle.py::test_fuzz_staged_r20_text_ops).
# ---------------------------------------------------------------------------


def ccnet_line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet paragraph-level exact dedup (Wenzek et al. 2020 §3.2): hash
    every non-empty trimmed line CORPUS-WIDE and keep only the first
    occurrence of each hash (order: (doc_id, position) — deterministic,
    crawl-order-free); per document, the line counts, the duplicated-
    line fraction, and the reconstructed kept text. The line-boundary
    complement of ``passage_chunks``-based dedup (fixed token windows)
    and ``exact_substring_spans`` (sliding token windows): boilerplate
    headers/footers/navigation repeat as LINES, and CCNet removes ~70%
    of raw Common Crawl text exactly this way.

    Scale shape at 100 TB: two keyed exchanges — the line-hash window
    (key cardinality ≈ distinct lines, uniform md5 keys) and the
    per-doc re-aggregation. The kept-text rebuild is a per-doc
    array_sort over collected (pos, line) structs — sorted AFTER
    collect, so shuffle order never leaks into results. Token-less
    docs keep a row (n_lines = 0) via posexplode_outer.

    Reference: /root/reference/app.py (no counterpart — north-star
    extension, SURVEY §2.11 dedup family)."""
    lines = spread(df).select(
        F.col(id_col),
        F.posexplode_outer(line_exprs(F.col(text_col))).alias(
            "__pos", "__line"
        ),
    )
    hashed = lines.withColumn("__h", md5_long(F.col("__line")))
    w = Window.partitionBy("__h").orderBy(
        F.col(id_col).asc(), F.col("__pos").asc()
    )
    flagged = hashed.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__line").isNotNull() & (F.col("__rn") == 1),
        F.struct(F.col("__pos"), F.col("__line")),
    )
    n_dup = F.sum(
        F.when(F.col("__line").isNotNull() & (F.col("__rn") > 1), 1)
        .otherwise(0)
    )
    return flagged.groupBy(id_col).agg(
        F.count("__line").cast("int").alias("n_lines"),
        n_dup.cast("int").alias("n_dup_lines"),
        (
            n_dup.cast("double")
            / F.greatest(F.count("__line"), F.lit(1)).cast("double")
        ).alias("dup_line_frac"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("kept_text"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise local-overlap detection over winnowing fingerprints —
    the MOSS report step (Schleimer et al. SIGMOD 2003 §5): two
    documents sharing ≥ ``min_shared`` distinct fingerprint hashes
    share that many (w + k − 1)-token-or-longer regions. Output per
    surviving pair: the shared-fingerprint count and the fingerprint-
    set Jaccard (shared / (|A| + |B| − shared), an int-ratio double).

    ``max_df`` drops fingerprints selected in more than that many
    documents BEFORE pairing — the published MOSS move (ignore hashes
    in too many submissions: boilerplate), and the same df-capped
    stop-shingle guard as ``ngram_jaccard_dedup``. It is also the
    scale guard: a fingerprint shared by d documents contributes
    d·(d−1)/2 candidate pairs, so the cap bounds the join fan-out per
    hash key — candidates come only from shared-hash buckets, never
    all-pairs.

    Scale shape: distinct → df-cap window → self equi-join on the hash
    → pair aggregate — every exchange keyed, the join key uniform md5.

    Reference: /root/reference/app.py (no counterpart — north-star
    extension, SURVEY §2.11 fingerprinting family)."""
    fps = winnowing_fingerprints(
        df, k=k, w=w, text_col=text_col, id_col=id_col
    )
    f = fps.select(F.col(id_col), F.col("fp_hash")).distinct()
    if max_df is not None:
        wdf = Window.partitionBy("fp_hash")
        f = (
            f.withColumn("__df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    sizes = f.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a = f.select(F.col(id_col).alias("left_id"), "fp_hash")
    b = f.select(F.col(id_col).alias("right_id"), "fp_hash")
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(
        F.col(id_col).alias("left_id"), F.col("__n").alias("__na")
    )
    sb = sizes.select(
        F.col(id_col).alias("right_id"), F.col("__n").alias("__nb")
    )
    return (
        pairs.join(sa, "left_id")
        .join(sb, "right_id")
        .select(
            "left_id",
            "right_id",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("fp_jaccard"),
        )
    )
