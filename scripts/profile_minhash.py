"""Scratch profiler: where does minhash_neardup's time go at sf0.1?"""
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fenix_spark.operators.dedup import (
    hashed_token_sets,
    lsh_candidates,
    signed_set_groups,
)

SF_DIR = "/root/testdata/sf0.1"

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "24g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
print("docs:", docs.count())

t0 = time.time()
# the shipped grouping: one exchange on s, signature inside the eager
# checkpoint (operators/dedup.py:signed_set_groups)
sets = hashed_token_sets(docs, "text", "doc_id", 1)
groups = signed_set_groups(sets, 24)
n_groups = groups.count()
t2 = time.time()
print(f"groups (tokenize+hash+groupBy+signature): {n_groups} rows, {t2-t0:.2f}s")

signed = groups.select(F.element_at("ids", 1).alias("id"), "s", "sz", "sig")
cand = lsh_candidates(signed, 3, 8, carry=("sz",)).where(
    F.least("sz_l", "sz_r") >= (0.95 - 1e-6) * F.greatest("sz_l", "sz_r")
).select("id_l", "id_r")
cand = cand.localCheckpoint(eager=False)
n_cand = cand.count()
t3 = time.time()
print(f"candidates (band join + length filter): {n_cand} pairs, {t3-t2:.2f}s")

from fenix_spark.operators.dedup import jaccard

l = signed.select(F.col("id").alias("id_l"), F.col("s").alias("s_l"))
r = signed.select(F.col("id").alias("id_r"), F.col("s").alias("s_r"))
rep_pairs = (
    cand.join(l, "id_l").join(r, "id_r")
    .withColumn("jaccard", F.round(jaccard(F.col("s_l"), F.col("s_r")), 6))
    .where(F.col("jaccard") >= 0.95)
    .select("id_l", "id_r", "jaccard")
)
n_ver = rep_pairs.count()
t4 = time.time()
print(f"verified pairs: {n_ver}, {t4-t3:.2f}s")

# signature-estimate distribution on candidates
sigs = signed.select("id", "sig")
est = (
    cand.join(sigs.select(F.col("id").alias("id_l"), F.col("sig").alias("sig_l")), "id_l")
    .join(sigs.select(F.col("id").alias("id_r"), F.col("sig").alias("sig_r")), "id_r")
    .withColumn(
        "n_match",
        F.size(F.filter(F.zip_with("sig_l", "sig_r", lambda a, b: a == b), lambda x: x)),
    )
)
dist = est.groupBy("n_match").count().orderBy("n_match").collect()
t5 = time.time()
print(f"estimate distribution ({t5-t4:.2f}s):")
for row in dist:
    print(f"  n_match={row['n_match']}: {row['count']}")

spark.stop()
