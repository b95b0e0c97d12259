"""Codegen reuse: a get_spark session keeps the generated classes of a
query set larger than Spark's default 100-entry cache, so a second pass
over the same queries compiles nothing.

The check needs classes this JVM has not compiled yet, so this module
runs before the registry-wide tests that execute every query.
"""

from __future__ import annotations

import os

import pytest

from parcial_bigdata_spark.plans.registry import QUERIES
from parcial_bigdata_spark.session import codegen_compiles

SF_DIR = "/root/testdata/sf0.001"

# 128 generated classes together.  profile_orders_table stays out: its
# Expand column order changes from call to call inside Spark's
# distinct-aggregate rewrite, so it compiles again on every call.
QUERY_SET = (
    "embedding_kmeans_train",
    "dedup_minhash_lsh",
    "sample_leakage_safe_split",
    "knn_cosine_ivf",
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _pass(spark) -> int:
    before = codegen_compiles(spark)
    for name in QUERY_SET:
        QUERIES[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
    return codegen_compiles(spark) - before


def test_second_pass_over_a_large_query_set_compiles_nothing(spark):
    first = _pass(spark)
    assert first > 100, first  # the set outgrows Spark's default cache
    assert _pass(spark) == 0
