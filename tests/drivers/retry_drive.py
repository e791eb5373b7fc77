"""Task-retry determinism: a task that fails once mid-build must, after
Spark's retry, produce a sketch byte-identical to a failure-free run."""
import os
import sys
import tempfile

from pyspark.sql import SparkSession, functions as F

sys.path.insert(0, sys.argv[1])

from presto_bloomfilter_spark import BloomFilter, HyperLogLog
from presto_bloomfilter_spark.operators import aggregate as agg

marker = tempfile.mktemp(prefix="pbs_retry_")

spark = (
    SparkSession.builder.master("local[4,2]")  # maxFailures=2: one retry
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

base = spark.range(0, 200_000).selectExpr(
    "cast(id as string) as k").repartition(8)


def fail_once(it):
    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc.partitionId() == 3 and tc.attemptNumber() == 0:
        open(marker, "w").write("failed")
        raise RuntimeError("injected task failure (attempt 0)")
    for pdf in it:
        yield pdf


flaky = base.mapInPandas(fail_once, "k string")
sk_flaky = agg.aggregate_sketch(flaky, agg.sketch_spec(BloomFilter, "k", "strings", 500_000, 0.01))
assert os.path.exists(marker), "injection never fired — test is vacuous"

sk_clean = agg.aggregate_sketch(base, agg.sketch_spec(BloomFilter, "k", "strings", 500_000, 0.01))
assert sk_flaky.to_bytes() == sk_clean.to_bytes(), \
    "retried build diverged from failure-free build"

# same property for the grouped path (shuffle + blob merge after retry)
os.unlink(marker)
gbase = spark.range(0, 100_000).selectExpr(
    "cast(id as string) as k", "cast(id % 4 as string) as g").repartition(8)
gflaky = gbase.mapInPandas(fail_once, "k string, g string")
a = {r["g"]: bytes(r["sketch"]) for r in
     agg.grouped_sketch(gflaky, "g", agg.sketch_spec(HyperLogLog, "k", "strings")).collect()}
assert os.path.exists(marker), "grouped injection never fired"
b = {r["g"]: bytes(r["sketch"]) for r in
     agg.grouped_sketch(gbase, "g", agg.sketch_spec(HyperLogLog, "k", "strings")).collect()}
assert a == b, "grouped retry diverged"
print("RETRY_DETERMINISM_OK")
spark.stop()
