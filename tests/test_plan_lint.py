"""Structural plan lint (fast subset) — the broad complement of the
deep pins in test_plans.py. `scripts/plan_lint.py` checks ALL 100
registry queries per round (PLAN_LINT.json, r8: zero violations); this
test keeps the same two never-acceptable-at-100-TB gates on a
mechanism-diverse subset so a regression fails the suite immediately:

- ``CartesianProduct``: an unkeyed cross product (a broadcast
  nested-loop of a one-row literal side is legitimate and asserted
  separately by the deep pins).
- ``BatchEvalPython``: a row-at-a-time Python UDF — the engine's
  Python surface is Arrow-only (MapInArrow / MapInPandas /
  FlatMapGroupsInPandas).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from .conftest import SF_SMOKE, load_plan_lint

# one representative per plan mechanism: scan-agg, window, broadcast
# join, shuffle join, explode, banded dedup join, IVF partition prune,
# Arrow mapInPandas, applyInPandas greedy, streaming batch twin,
# bucketed layout, two-phase rank, skew salting, sketch grid
_SUBSET = [
    "pricing_summary",
    "running_revenue",
    "label_category_join",
    "suffix_join_equi",
    "ngram_novelty_score",  # explode + first-occurrence hash aggs
                            # (token_stats retired r17)
    "minhash_lsh_dedup",
    "ivf_topk",
    "search_batch",
    "mmr_rerank",
    "streaming_dedup_batch",
    "bucketed_revenue",
    "knn_two_phase",
    "salted_term_counts",
    "cms_heavy_hitters",
    "dedup_recall_eval",
]


# hand-written plan lines in Spark's executedPlan().toString() form
_TOK = (
    "filter(split(trim(lower(text#1), None), \\s+, -1), "
    "lambdafunction(NOT (lambda x_1#7 = ), lambda x_1#7, false))"
)


@pytest.mark.parametrize(
    "plan, expected",
    [
        # tokenize in its own projection: its filter lambda follows the
        # split, it does not contain it
        (f"+- Project [doc_id#0L, {_TOK} AS __toks#6]", 0),
        # shingles over the projected column: lambdas, no tokenize inside
        (
            "+- Project [doc_id#0L, array_distinct(transform(sequence(1, "
            "(size(__toks#6, false) - 2), None, Some(UTC)), lambdafunction("
            "concat_ws( , slice(__toks#6, lambda x_2#9, 3)), lambda x_2#9, "
            "false))) AS sh#8]",
            0,
        ),
        # top-level repeats (quality_exprs shape) are not nested
        (
            f"+- Project [size({_TOK}, false) AS n#1, "
            f"array_distinct({_TOK}) AS d#2]",
            0,
        ),
        # inline token_shingles(tokens(...)): two top-level sizes plus
        # ONE tokenize captured by the transform lambda
        (
            f"+- Generate explode(CASE WHEN ((size({_TOK}, false) - 2) >= 1) "
            f"THEN array_distinct(transform(sequence(1, (size({_TOK}, false) "
            f"- 2), None, Some(UTC)), lambdafunction(concat_ws( , slice("
            f"{_TOK}, lambda x_14#130, 3)), lambda x_14#130, false))) "
            "ELSE [] END), [doc_id#121L], false, [_g#132]",
            1,
        ),
        # nested lambdas count the tokenize once; two lines add up
        (
            f"+- Project [transform(a#1, lambdafunction(transform(b#2, "
            f"lambdafunction(slice({_TOK}, lambda y#4, 2), lambda y#4, "
            "false)), lambda x#3, false)) AS t#5]\n"
            f"+- Project [aggregate(a#1, 0, lambdafunction(size({_TOK}) "
            "+ lambda acc#6, lambda acc#6, lambda z#7, false)) AS s#8]",
            2,
        ),
    ],
    ids=["own_projection", "shingles_over_column", "top_level_repeats",
         "inline_shingles", "nested_lambdas"],
)
def test_tokenize_in_lambda_counter(plan, expected):
    """Unit test of scripts/plan_lint.py::_tokenize_in_lambda on
    hand-written plan strings: only tokenizes INSIDE a lambda body
    count, not the tokenize's own filter lambda or top-level repeats."""
    assert load_plan_lint()._tokenize_in_lambda(plan) == expected


@pytest.mark.parametrize("name", _SUBSET)
def test_no_cartesian_no_row_python(spark, name):
    df = entrymod.queries()[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: unkeyed cross product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_recomputed_hash_gate_fires_on_planted_nullable_key(spark):
    """Negative control for the nullable-join-key lint gate
    (scripts/plan_lint.py::_recomputed_hash_filters): plant the exact
    defect class it exists for — a join on a NULLABLE md5-derived key,
    where Catalyst synthesizes isnotnull(key) and pushes the Filter
    below the Project computing it, so the md5/conv chain evaluates
    twice — and assert the gate counts it. Until now the gate was only
    proven by the absence of violations (VERDICT r13 #5)."""
    from pyspark.sql import functions as F

    plan_lint = load_plan_lint()

    left = spark.range(100).select(
        F.col("id"),
        # nullable hash key: when(...) keeps the schema nullable, so
        # the join infers isnotnull and re-derives the md5 chain in a
        # pushed-down Filter — the r13 decontaminate defect
        F.when(
            F.col("id") % 7 != 0,
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10),
        ).alias("gram_key"),
    )
    right = spark.range(50).select(
        F.conv(
            F.substring(F.md5((F.col("id") * 2).cast("string")), 1, 15), 16, 10
        ).alias("gram_key")
    )
    planted = left.join(right, "gram_key")
    plan = planted._jdf.queryExecution().executedPlan().toString()
    assert plan_lint._recomputed_hash_filters(plan) >= 1, (
        "gate missed the planted nullable-hash-key recomputation:\n" + plan
    )

    # ...and the clean form (non-nullable keys via coalesce sentinel,
    # BOTH sides — the planted right side above is itself nullable and
    # correctly fires) must NOT fire — the gate's tightened heuristic
    # (ADVICE r13) only counts Filter subtrees that ALSO appear in a
    # Project
    def clean_key(col):
        return F.coalesce(
            F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10),
            F.lit("-1"),
        ).alias("gram_key")

    clean_left = spark.range(100).select(F.col("id"), clean_key(F.col("id")))
    clean_right = spark.range(50).select(clean_key(F.col("id") * 2))
    clean = clean_left.join(clean_right, "gram_key")
    clean_plan = clean._jdf.queryExecution().executedPlan().toString()
    assert plan_lint._recomputed_hash_filters(clean_plan) == 0, (
        "gate false-positive on the coalesced non-nullable key:\n"
        + clean_plan
    )
