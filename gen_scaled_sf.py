"""Deterministic xN replication of the driver's sf0.1 parquet into an
sf1-equivalent directory (VERDICT r3 item 6: full-suite sweep at x10 to
catch cliffs the driver's scales can't reveal).

No external data, no RNG: copy c of each fact row gets its keys offset
into a disjoint namespace (foreign keys offset by the SAME span as the
referenced table, so join selectivity and per-key densities are
preserved — the same scheme TPC-H dbgen uses to scale); dimension tables
(region, nation) stay single-copy, exactly like real scale-ups. Schemas
are byte-identical to sf0.1 (types preserved), so every contract query
and bench.py run unmodified:

    python gen_scaled_sf.py /tmp/sf1 10
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py

Embeddings keep their vectors verbatim (same choice as
bench_stress.replicate_embeddings) — exact-duplicate vectors are the
adversarial case for the near-dup/ANN family, so the sweep measures the
worst shape, not a softened one. Document texts get a per-copy suffix so
the dedup family sees near- (not exact-) duplicates across copies.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orientdb_neo4j_importer_plugin_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# key spans: clean powers comfortably above each table's sf0.1 max key,
# shared between the PK table and every FK referencing it
ORDER_SPAN = 10**9
PART_SPAN = 10**6
SUPP_SPAN = 10**5
CUST_SPAN = 10**6
EVENT_SPAN = 10**8
USER_SPAN = 10**7
DOC_SPAN = 10**6
VEC_SPAN = 10**6

OFFSETS: dict[str, dict[str, int]] = {
    "lineitem": {
        "l_orderkey": ORDER_SPAN,
        "l_partkey": PART_SPAN,
        "l_suppkey": SUPP_SPAN,
    },
    "orders": {"o_orderkey": ORDER_SPAN, "o_custkey": CUST_SPAN},
    "customer": {"c_custkey": CUST_SPAN},
    "supplier": {"s_suppkey": SUPP_SPAN},
    "part": {"p_partkey": PART_SPAN},
    "events": {"event_id": EVENT_SPAN, "user_id": USER_SPAN},
    "documents": {"doc_id": DOC_SPAN},
    "embeddings": {"vec_id": VEC_SPAN},
}
DIMENSIONS = ["region", "nation"]


def replicate(df: DataFrame, offsets: dict[str, int], times: int,
              tag_text: bool = False) -> DataFrame:
    rep = df.crossJoin(
        F.broadcast(
            df.sparkSession.range(times).select(F.col("id").alias("__copy"))
        )
    )
    cols = []
    for c in df.columns:
        if c in offsets:
            cols.append(
                (F.col(c) + F.col("__copy") * F.lit(offsets[c]))
                .cast(dict(df.dtypes)[c])
                .alias(c)
            )
        elif tag_text and c == "text":
            # near-duplicates across copies (copy 0 keeps the original
            # text verbatim), realistic for the dedup family
            cols.append(
                F.when(F.col("__copy") == 0, F.col("text"))
                .otherwise(
                    F.concat(
                        F.col("text"), F.lit(" c"),
                        F.col("__copy").cast("string"),
                    )
                )
                .alias("text")
            )
        else:
            cols.append(F.col(c))
    return rep.select(*cols)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    times = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)
    for name in DIMENSIONS:
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}.parquet")
        print(f"{name}: copied (dimension)")
    for name, offsets in OFFSETS.items():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        big = replicate(df, offsets, times, tag_text=(name == "documents"))
        # N output files, one per round-robin partition: repartition(times)
        # deals rows across the files without regard to which copy they
        # came from, so each file holds a slice of every copy (not one copy
        # per file). What matters is the count: a xN dataset scans with
        # N-way parallelism like the escalated sf1 data does
        # (BENCH_r05 sf1 tpch_q6 = 0.17s is only possible with a
        # multi-split lineitem). A broadcast-crossJoin replicate otherwise
        # writes ONE 6M-row row group, and every scan becomes a single-task
        # straggler — which mis-measures every downstream query. The
        # recorded sf1 numbers were measured on this layout; keep it.
        big.repartition(times).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        print(f"{name}: x{times} -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
