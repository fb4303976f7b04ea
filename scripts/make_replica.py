"""Build the FK-preserving K× replica of a test-SF corpus (SCALE.md §4).

Each copy c in 0..K-1 offsets every key space by c × (a round power of
ten above the base table's max key) so foreign keys stay consistent
within a copy and copies are disjoint; every non-key attribute (texts,
vectors, timestamps, prices) is carried VERBATIM so per-row work is
unchanged and only volume grows. Dimension tables (region, nation) and
the nation/region foreign keys are NOT offset — exactly how a bigger
TPC-H SF behaves (fixed dims, growing facts). Documents/embeddings take
offset ids with unchanged text/vectors. Events offset event_id/user_id
and keep ts verbatim (K× density on the same calendar, like a busier
day, matching the earlier rounds' probes).

Output is written with several part files per table so scans can split
(the single-row-group bound of the shipped test files — SCALE.md §6 —
does not apply to the replicas).

Usage:
    cd /tmp && python /root/repo/scripts/make_replica.py OUT_DIR K [SRC_DIR]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from recommendersystems_bigdata_spark.catalog import load_table  # noqa: E402
from recommendersystems_bigdata_spark.session import get_spark  # noqa: E402

# table -> {column: offset unit}. The unit is a round power of ten above
# the sf0.1 key range so copies never collide (and stays correct for
# smaller source SFs). Around sf10 the keys reach the units; main()
# refuses such a source instead of writing colliding copies.
OFFSETS = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
VERBATIM = ("region", "nation")


def main() -> None:
    out_dir = sys.argv[1]
    k = int(sys.argv[2])
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"make_replica_x{k}")
    spark.sparkContext.setLogLevel("ERROR")
    for t in VERBATIM:
        load_table(spark, src, t).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
        print(f"{t}: verbatim")
    for t, offs in OFFSETS.items():
        base = load_table(spark, src, t)
        maxes = base.agg(*[F.max(c).alias(c) for c in offs]).first()
        for col, unit in offs.items():
            if maxes[col] is not None and maxes[col] >= unit:
                raise SystemExit(
                    f"{t}.{col}: max key {maxes[col]} is not below its offset "
                    f"unit {unit}; replica copies would collide"
                )
        copies = base.crossJoin(
            spark.range(k).select(F.col("id").alias("_copy"))
        )
        for col, unit in offs.items():
            copies = copies.withColumn(
                col, (F.col(col) + F.col("_copy") * F.lit(unit)).cast("long")
            )
        n_parts = max(4, k)
        (
            copies.drop("_copy")
            .repartition(n_parts)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"{t}.parquet"))
        )
        n = spark.read.parquet(os.path.join(out_dir, f"{t}.parquet")).count()
        print(f"{t}: {n} rows in {n_parts} parts")
    spark.stop()


if __name__ == "__main__":
    main()
