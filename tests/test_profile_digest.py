"""``tools/profile.py``'s plan digest counts the operators that run: a
persisted frame's plan ran when its cache filled, so the walk stops at each
in-memory scan instead of counting the cached plan again in every scan of
it, as the formatted explain text does."""

import importlib.util
import os

from pyspark.sql import functions as F

_TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools",
                     "profile.py")


def _profile_tool():
    spec = importlib.util.spec_from_file_location("profile_tool", _TOOL)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_digest_stops_at_persisted_frames(spark):
    """A group-by over a persisted self-join of a persisted aggregate runs
    one exchange above the cache; its explain text names five."""
    base = spark.range(100).select((F.col("id") % 10).alias("k"), F.col("id").alias("v"))
    agg = base.groupBy("k").agg(F.sum("v").alias("s")).persist()
    joined = agg.alias("a").join(agg.alias("b"), "k").select(
        "k", F.col("a.s").alias("s1"), F.col("b.s").alias("s2")
    ).persist()
    try:
        query = joined.groupBy((F.col("k") % 2).alias("p")).agg(F.count("*").alias("n"))
        digest = _profile_tool().plan_digest(query)
        assert digest["Exchange"] == 1
        assert digest["InMemoryTableScan"] == 1
        assert digest["SortMergeJoin"] == digest["BroadcastHashJoin"] == 0
    finally:
        joined.unpersist()
        agg.unpersist()
