from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from the_build_project_image_retrieval_with_vector_databases_spark.session import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def load_plan_lint():
    """scripts/plan_lint.py as a module (scripts/ is not a package)."""
    import importlib.util

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
    return plan_lint


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


# Adversarial corpora for the kernel-parity tests: a tie flood (every
# row the same vector), exact duplicate pairs, and zero vectors (every
# third row). 24 rows × 32-D (one packed BQ half); centroid = id % 3,
# label = id % 2, so probe sets and label masks cut through the ties.
DEGENERATE_KINDS = ("identical", "dup_pairs", "zeros")


def degenerate_frame(spark, kind: str, n: int = 24, dim: int = 32):
    import numpy as np

    rng = np.random.default_rng(7)
    if kind == "identical":
        mat = np.tile(rng.standard_normal(dim), (n, 1))
    elif kind == "dup_pairs":
        mat = np.repeat(rng.standard_normal((n // 2, dim)), 2, axis=0)
    else:
        mat = rng.standard_normal((n, dim))
        mat[::3] = 0.0
    df = spark.createDataFrame(
        [(i, i % 3, i % 2, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, centroid int, label int, embedding array<double>",
    )
    return mat, df
