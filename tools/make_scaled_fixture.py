"""Deterministic K× upscale of an sf fixture for SCALABILITY benching.

Usage: python tools/make_scaled_fixture.py [dst] [K] [src]
       (defaults: /tmp/sf1  K=10  /root/testdata/sf0.1)

Emits K key-shifted copies of every fact-class table (dimension tables
nation/region stay as-is, TPC-H style), so the result behaves like a
corpus with K× more INDEPENDENT data rather than K duplicate copies:

  - every entity key gains copy_index · 10^9 (FK pairs shifted in
    lockstep, so referential integrity holds by construction);
  - document text suffixes every word with the copy index (k>0), so
    shingles/tokens across copies are DISJOINT — near-dup clusters stay
    fixture-sized instead of exploding quadratically across copies;
  - embeddings are cyclically rotated by the copy index, so cross-copy
    cosines look like unrelated vectors instead of exact duplicates.

Copy 0 is byte-identical to the source. Deterministic (pure column
arithmetic, no randomness). This fixture exists ONLY for bench-time
scaling evidence — it has no oracle and must never be used for
correctness grading.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DST = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 10
SRC = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
# Key shift per copy. Must exceed every source key (sf0.1 max is
# 149,999) to keep copies disjoint, and stay SMALL: the engine's
# portable 31-bit LCG hashes (portable.py) compute key·1103515245
# under ANSI mode, so keys must stay ≲ 2^33 or the hash overflows
# BIGINT and the run fails loudly (observed with a 10^9 stride).
STRIDE = 1_000_000

# per-table long key columns shifted by copy_index * STRIDE
SHIFT_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
COPY_AS_IS = ["nation", "region"]


def main() -> None:
    from pyspark.sql import functions as F

    from seamless_sharepoint_etl_spark.session import get_spark

    spark = get_spark("make-scaled-fixture")
    # a key at or above STRIDE would collide with the next copy's keys
    for t, keys in SHIFT_KEYS.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        maxes = df.agg(*[F.max(key).alias(key) for key in keys]).first()
        for key in keys:
            if maxes[key] is not None and maxes[key] >= STRIDE:
                raise ValueError(
                    f"{t}.{key} max {maxes[key]} >= STRIDE {STRIDE}: "
                    "shifted copies would share keys; raise STRIDE"
                )
    os.makedirs(DST, exist_ok=True)
    for t in COPY_AS_IS:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        print(f"{t}: copied as-is")
    for t, keys in SHIFT_KEYS.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        copies = []
        for k in range(K):
            c = df
            for key in keys:
                c = c.withColumn(key, (F.col(key) + F.lit(k * STRIDE)).cast("long"))
            if t == "documents" and k > 0:
                # disjoint token space per copy: suffix every word
                c = c.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                            lambda w: F.when(w == "", w).otherwise(
                                F.concat(w, F.lit(f"q{k}"))
                            ),
                        ),
                        " ",
                    ),
                ).withColumn("n_chars", F.length("text").cast("long"))
            if t == "embeddings" and k > 0:
                # cyclic dimension rotation decorrelates copies
                c = c.withColumn(
                    "emb_k", F.lit(k % 64)
                ).withColumn(
                    "embedding",
                    F.concat(
                        F.slice(F.col("embedding"), F.col("emb_k") + 1,
                                F.size("embedding") - F.col("emb_k")),
                        F.slice(F.col("embedding"), F.lit(1), F.col("emb_k")),
                    ),
                ).drop("emb_k")
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        n_files = max(8, min(32, K))
        out.repartition(n_files).write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
        print(f"{t}: {K} copies written")
    spark.stop()


if __name__ == "__main__":
    main()
