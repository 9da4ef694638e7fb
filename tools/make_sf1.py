"""Scale up the driver-generated sf0.1 parquet tables by replication.

Default invocation reproduces the historical behavior (sf0.1 x10 ->
.tmp/sf1 under the repo root). --k 100 --dst .tmp/sf10 generates the sf10 set
used by tools/measure_scaling.py. Replication keeps joins consistent
(shifted orderkeys), time series valid (shifted epochs), and ids unique
(shifted id spaces); document TEXT repeats verbatim, which makes the
dedup tier's near-dup density scale-realistic (every clone is a true
near-duplicate the pipeline must catch).
"""
import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from stglib_spark.session import get_spark, load_table

ap = argparse.ArgumentParser()
ap.add_argument("--src", default="/root/testdata/sf0.1")
ap.add_argument("--dst", default=os.path.join(REPO, ".tmp", "sf1"))
ap.add_argument("--k", type=int, default=10, help="replication factor")
args = ap.parse_args()

spark = get_spark("mksfN"); spark.sparkContext.setLogLevel("ERROR")
src, dst, K = args.src, args.dst, args.k
os.makedirs(dst, exist_ok=True)
ks = F.explode(F.sequence(F.lit(0), F.lit(K - 1))).alias("__k")
# small dims: copy as-is
for t in ("region", "nation", "customer", "supplier", "part", "orders"):
    load_table(spark, src, t).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
# lineitem: replicate with shifted orderkeys so joins stay consistent-ish
li = load_table(spark, src, "lineitem")
maxok = li.agg(F.max("l_orderkey")).collect()[0][0]
li10 = li.select("*", ks)
li10 = li10.withColumn("l_orderkey", F.col("l_orderkey") + F.col("__k") * (maxok + 1)).drop("__k")
li10.write.mode("overwrite").parquet(f"{dst}/lineitem.parquet")
# events: shift time by k*span so the series stays a valid time series
ev = load_table(spark, src, "events")
span = ev.agg((F.max("ts").cast("long") - F.min("ts").cast("long") + 3600).alias("s")).collect()[0]["s"]
maxid = ev.agg(F.max("event_id")).collect()[0][0]
ev10 = ev.select("*", ks)
ev10 = (ev10
    .withColumn("ts", (F.col("ts").cast("long") + F.col("__k") * span).cast("timestamp"))
    .withColumn("event_id", F.col("event_id") + F.col("__k") * (maxid + 1))
    .drop("__k"))
ev10.write.mode("overwrite").parquet(f"{dst}/events.parquet")
# documents / embeddings: new ids, text repeats verbatim
docs = load_table(spark, src, "documents")
maxd = docs.agg(F.max("doc_id")).collect()[0][0]
d10 = docs.select("*", ks)
d10 = d10.withColumn("doc_id", F.col("doc_id") + F.col("__k") * (maxd + 1)).drop("__k")
d10.repartition(max(32, K * 4)).write.mode("overwrite").parquet(f"{dst}/documents.parquet")
emb = load_table(spark, src, "embeddings")
maxv = emb.agg(F.max("vec_id")).collect()[0][0]
e10 = emb.select("*", ks)
e10 = e10.withColumn("vec_id", F.col("vec_id") + F.col("__k") * (maxv + 1)).drop("__k")
e10.repartition(max(32, K * 4)).write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")
print("rows:", {t: spark.read.parquet(f"{dst}/{t}.parquet").count() for t in ("lineitem","events","documents","embeddings")})
spark.stop()
