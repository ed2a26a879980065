#!/usr/bin/env python
"""Repo-wide physical-plan lint over EVERY registry query (round 8).

`tests/test_plans.py` pins ~26 hand-picked plan contracts deeply; this
script is the broad structural complement: it builds (never executes)
the physical plan of all 100 registry queries and checks every one for
the patterns that are NEVER acceptable at 100 TB:

- ``CartesianProduct`` — an unkeyed corpus×corpus cross product. (A
  `BroadcastNestedLoopJoin` of a literal/one-row side is fine and
  common — e.g. the flagship single-query kNN broadcasts the query
  vector — so BNLJ occurrences are REPORTED per query, not failed;
  the deep pins in test_plans.py assert which side broadcasts.)
- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan. The
  engine's contract is Arrow-only Python (`MapInArrow` / `MapInPandas`
  / `FlatMapGroupsInPandas`), verified here structurally instead of by
  source grep alone.
- a Filter evaluating an md5/conv hash chain — the nullable-join-key
  class (r13): a nullable hash key makes joins infer isnotnull(key),
  pushed below the projection that computes it, double-evaluating the
  hash per row. Keys must be coalesce-annotated non-nullable.
- a tokenize (``split(trim(lower(``) inside a ``lambdafunction`` body —
  the inline-tokenize class: the lambda re-splits the text once per
  array element. Tokenize in its own projection instead.

Also recorded per query (trend data, not gates): hash-exchange count,
BNLJ count, Arrow-Python operator count, and whole-stage-codegen span
count. Writes PLAN_LINT.json at the repo root and exits non-zero on
any violation.

Planning only — no job runs for the lint itself, though a few queries
legitimately run small driver-side actions while CONSTRUCTING their
plan (collecting query vectors, training centroids); sf0.001 keeps
that cheap.

Usage: python scripts/plan_lint.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from the_build_project_image_retrieval_with_vector_databases_spark.session import (
    get_spark,
)
from the_build_project_image_retrieval_with_vector_databases_spark import queries as Q

BASE_DEFAULT = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# Queries whose STATIC plan over-states the executed one: AQE feeds
# canonically-identical aliased subplans from a ReusedExchange AT
# RUNTIME (the r11→r12 ngram_jaccard lesson — static exchange counts
# over-state such plans ~2×), and runtime stats re-plan joins. For
# the cohort below, the lint ALSO executes the query (sf0.001 —
# sub-second) and records the final adaptive plan's counts as
# final_* columns. final_exchanges counts Exchange nodes of ANY
# partitioning (the tree section omits the partitioning detail);
# measured r12: ngram_jaccard_dedup static 7 hash exchanges / 2 BNLJ
# -> executed 6 exchanges / 1 BNLJ / 1 ReusedExchange subsuming side
# b's entire pipeline (scan+tokenize+md5+df-window run once).
#
# Cohort rule (r13, VERDICT r12 #6 — standard, not special case):
#   1. any query whose static plan scans the SAME parquet location
#      more than once (self-join shape — the ReusedExchange class), OR
#   2. any query with >= FINAL_EXCHANGE_FLOOR static hash exchanges
#      (enough shuffle structure that the static/adaptive gap can
#      mislead a plan audit).
# ADAPTIVE_FINAL_EXTRA pins names the rules might miss.
FINAL_EXCHANGE_FLOOR = 4
ADAPTIVE_FINAL_EXTRA = {"ngram_jaccard_dedup"}


def _self_join_scan(plan: str) -> bool:
    """True iff the static plan scans one parquet location twice —
    the aliased self-join shape where AQE's ReusedExchange makes
    static counts over-state the executed plan."""
    import re

    locs = re.findall(r"Location: \S+ \[([^\]]*)\]", plan)
    return len(locs) != len(set(locs)) and bool(locs)


def _final_counts(df) -> dict:
    """Execute and count the FINAL adaptive plan (post-AQE re-plan).
    collect(), not a noop sink: a write command runs a SEPARATE
    QueryExecution, leaving the df's own adaptive plan un-finalized."""
    import contextlib
    import io
    import re

    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    # the adaptive tree prints "== Final Plan ==" then "== Initial
    # Plan =="; count node lines ("OpName (id)") in the final section
    # only — the trailing per-operator detail section spans BOTH plans
    start = s.find("== Final Plan ==")
    end = s.find("== Initial Plan ==")
    tree = s[start:end if end >= 0 else len(s)] if start >= 0 else s

    def nodes(op: str) -> int:
        return len(re.findall(rf"(?:^|[-\s]){op} \(\d+\)", tree, re.M))

    return {
        "final_exchanges": nodes("Exchange"),
        "final_reused_exchanges": nodes("ReusedExchange"),
        "final_bnlj": nodes("BroadcastNestedLoopJoin Cross BuildRight")
        + nodes("BroadcastNestedLoopJoin BuildRight")
        + nodes("BroadcastNestedLoopJoin BuildLeft"),
    }


def _call_spans(line: str, call: str) -> list[tuple[int, int]]:
    """Balanced-paren ``(start, end)`` spans of every ``call(...)``
    (``call`` is a regex ending at the opening paren) on a plan line."""
    spans: list[tuple[int, int]] = []
    for m in re.finditer(call, line):
        depth = 0
        for j in range(m.end() - 1, len(line)):
            if line[j] == "(":
                depth += 1
            elif line[j] == ")":
                depth -= 1
                if depth == 0:
                    spans.append((m.start(), j + 1))
                    break
    return spans


def _hash_calls(line: str) -> set[str]:
    """Every md5(...)/conv(...) call substring on a plan line — the
    unit the recomputation check compares across Filter and Project
    nodes."""
    return {line[i:j] for i, j in _call_spans(line, r"\b(md5|conv)\(")}


def _recomputed_hash_filters(plan: str) -> int:
    """Count Filter lines whose md5/conv subtree ALSO appears in a
    Project line — the recomputed-pushed-down-hash class. A Filter
    that merely consumes a hash-derived predicate (no twin Project
    evaluation) is legitimate and not counted."""
    project_calls: set[str] = set()
    filter_lines: list[str] = []
    for line in plan.splitlines():
        if "md5(" not in line and "conv(" not in line:
            continue
        if "Project" in line:
            project_calls |= _hash_calls(line)
        if "Filter" in line:
            filter_lines.append(line)
    return sum(
        1 for line in filter_lines if _hash_calls(line) & project_calls
    )


TOKENIZE = "split(trim(lower("


def _tokenize_in_lambda(plan: str) -> int:
    """Count tokenize subtrees (``functions.text.tokens``) that sit
    INSIDE a ``lambdafunction(...)`` body — the inline-tokenize class:
    a lambda that captures the tokenize expression re-runs the regex
    split once per array element (e.g. once per shingle), O(tokens²)
    per document. The tokenize's own empty-token filter lambda does not
    count (the split is the filter's argument, outside the lambda
    span), and neither do top-level repeats."""
    n = 0
    for line in plan.splitlines():
        if TOKENIZE not in line:
            continue
        spans = _call_spans(line, r"\blambdafunction\(")
        n += sum(
            any(i < m.start() < j for i, j in spans)
            for m in re.finditer(re.escape(TOKENIZE), line)
        )
    return n


def lint_one(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the violation gate is driven by FORBIDDEN — extend the list and
    # both the per-query counts and the gate pick the pattern up
    row = {p: plan.count(p) for p in FORBIDDEN}
    row.update(
        {
            "forbidden_total": sum(row[p] for p in FORBIDDEN),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "hash_exchanges": plan.count("Exchange hashpartitioning"),
            "arrow_python": plan.count("MapInArrow")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas"),
            "codegen_spans": plan.count("WholeStageCodegen"),
            # the nullable-join-key class (found r13 on decontaminate):
            # joins infer isnotnull(key) on a NULLABLE hash key and
            # Catalyst pushes the filter BELOW the projection computing
            # it — the plan then evaluates the md5/conv chain in both
            # the Filter and the Project (codegen does not share
            # subexpressions across operators). Fix at the source:
            # coalesce the key to an unreachable sentinel so the
            # schema is non-nullable and no filter is synthesized.
            # The gate counts a Filter hash call ONLY when the same
            # md5/conv subtree also appears in a Project — a query
            # that legitimately FILTERS on a hash-derived predicate
            # (without recomputing it next to a projection) is not a
            # violation (ADVICE r13 tightening).
            "filter_recomputed_hash": _recomputed_hash_filters(plan),
            # the inline-tokenize class: tokenize in its own projection
            # (operators/dedup.py::doc_shingles), never inside a lambda
            "tokenize_in_lambda": _tokenize_in_lambda(plan),
        }
    )
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else BASE_DEFAULT
    spark = get_spark(app_name="plan-lint")
    out: dict = {}
    violations: list[str] = []
    for name, fn in Q.QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            row = lint_one(df)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if (
                name in ADAPTIVE_FINAL_EXTRA
                or row["hash_exchanges"] >= FINAL_EXCHANGE_FLOOR
                or _self_join_scan(plan)
            ):
                row.update(_final_counts(df))
        except Exception as exc:  # construction failure is a violation too
            out[name] = {"error": str(exc)[:200]}
            violations.append(name)
            continue
        out[name] = row
        if (
            row["forbidden_total"]
            or row["filter_recomputed_hash"]
            or row["tokenize_in_lambda"]
        ):
            violations.append(name)
        print(f"# lint {name}: {row}", file=sys.stderr)

    summary = {
        "n_queries": len(out),
        "violations": violations,
        "total_bnlj": sum(r.get("bnlj", 0) for r in out.values()),
        "total_arrow_python": sum(
            r.get("arrow_python", 0) for r in out.values()
        ),
        "queries_with_zero_hash_exchanges": sorted(
            n for n, r in out.items() if r.get("hash_exchanges") == 0
        ),
        "executed_plan_cohort": sorted(
            n for n, r in out.items() if "final_exchanges" in r
        ),
    }
    artifact = {"metric": "plan_lint", "sf_dir": sf_dir,
                "summary": summary, "queries": out}
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLAN_LINT.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({"metric": "plan_lint", "n": len(out),
                      "violations": violations}))
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
