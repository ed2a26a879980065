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
from .conftest import SF_SMOKE

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
    import importlib.util
    import os

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "plan_lint",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "plan_lint.py",
        ),
    )
    plan_lint = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_lint)

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
