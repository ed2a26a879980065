"""Dataset-manifest ingestion (SURVEY §1.2, §2.1 S2).

The reference loads ``train_val.json``
(``{"train": [[label, relpath], ...], "categories": [...]}``) with
``json.load`` (reference ``utils/precompute_features.py:136-144``) and
resolves labels positionally (``categories[label]``). Here the manifest
becomes two DataFrames:

- ``train(label int, relpath string)`` — ``explode`` of the pair array,
- ``categories(label int, category string)`` — ``posexplode`` so the
  positional index becomes an explicit join key (dim table for J4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_manifest(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read a train_val.json-shaped manifest → (train, categories)."""
    raw = spark.read.option("multiLine", "true").json(path)
    train = (
        raw.select(F.explode("train").alias("pair"))
        .select(
            F.element_at("pair", 1).cast("int").alias("label"),
            F.element_at("pair", 2).cast("string").alias("relpath"),
        )
    )
    categories = raw.select(
        F.posexplode("categories").alias("label", "category")
    ).select(F.col("label").cast("int"), "category")
    return train, categories
