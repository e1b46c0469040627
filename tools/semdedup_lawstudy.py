"""SemDeDup growth-law study on the TRAINED index geometry.

The d44/d44b A/B on the stub assignment cannot surface d44's ~n^1.5
pair growth: the stub codebook (vec_id % 100) grows LINEARLY with the
corpus, so members/cell stays ~constant under replication. The TRAINED
index follows the d49 sqrt law (cells ~ sqrt(n)), so members/cell
grows ~sqrt(n) and the full cell-local pair count grows ~n^1.5 —
this script measures exactly that, against the capped band form whose
work is <= CAP per member at any geometry.

For each dataset dir it reports, over the stored trained assignment:
- cells / vectors / members-per-cell,
- pairs_full = sum n_c*(n_c-1)/2 (d44's candidate enumeration),
- pairs_capped = sum min-band pairs (d44b's enumeration),
- measured wall time of BOTH prune computations (3-run median,
  MV-warm).

Usage: python tools/semdedup_lawstudy.py [dir ...]
Defaults: /root/testdata/sf0.1 /tmp/sfscale100vec
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F


def main() -> None:
    from risk_dashboard_database_spark.plans.dedup import (
        D44B_CAP,
        SEM_TAU,
        _dot_spark,
        _trained_assigned,
    )
    from risk_dashboard_database_spark.session import get_spark

    dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/sfscale100vec"]
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def timed(build_df) -> float:
        samples = []
        for _ in range(3):
            t0 = time.monotonic()
            build_df().write.format("noop").mode("overwrite").save()
            samples.append(time.monotonic() - t0)
        return statistics.median(samples)

    print(
        f"{'dir':24s} {'vecs':>8s} {'cells':>6s} {'mem/cell':>8s} "
        f"{'pairs_full':>12s} {'pairs_cap':>10s} {'full_med_s':>10s} "
        f"{'cap_med_s':>9s}"
    )
    for d in dirs:
        assigned = _trained_assigned(spark, d).select(
            "vec_id", F.col("v").alias("embedding"), F.col("vnorm").alias("norm"), "cell"
        )
        census = assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
        vecs = sum(r["n"] for r in census)
        cells = len(census)
        pf = sum(r["n"] * (r["n"] - 1) // 2 for r in census)
        pc = sum(
            r["n"] * (r["n"] - 1) // 2
            if r["n"] <= D44B_CAP
            else D44B_CAP * (D44B_CAP - 1) // 2 + (r["n"] - D44B_CAP) * D44B_CAP
            for r in census
        )

        def full_prune():
            a = assigned.select(
                F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
                F.col("norm").alias("na"), "cell",
            )
            b = assigned.select(
                F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
                F.col("norm").alias("nb"), "cell",
            )
            cos = _dot_spark("ea", "eb") / (F.col("na") * F.col("nb"))
            return (
                a.join(b, "cell")
                .where((F.col("vb") < F.col("va")) & (cos >= SEM_TAU))
                .select("cell", "va")
                .distinct()
                .groupBy("cell")
                .agg(F.count("*").alias("n_pruned"))
            )

        def capped_prune():
            w = Window.partitionBy("cell").orderBy("vec_id")
            ranked = assigned.withColumn("rn", F.row_number().over(w).cast("long"))
            blk = ((F.col("rn") - 1) / D44B_CAP).cast("long")
            b_side = ranked.select(
                F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
                F.col("norm").alias("nb"), F.col("rn").alias("rb"),
                "cell", blk.alias("blk"),
            )
            a_side = (
                ranked.select(
                    F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
                    F.col("norm").alias("na"), F.col("rn").alias("ra"),
                    "cell", blk.alias("__b0"),
                )
                .withColumn("blk", F.explode(F.array(F.col("__b0"), F.col("__b0") - 1)))
                .where(F.col("blk") >= 0)
                .drop("__b0")
            )
            cos = _dot_spark("ea", "eb") / (F.col("na") * F.col("nb"))
            return (
                a_side.join(b_side, ["cell", "blk"])
                .where(
                    (F.col("rb") < F.col("ra"))
                    & (F.col("rb") >= F.col("ra") - D44B_CAP)
                    & (cos >= SEM_TAU)
                )
                .select("cell", "va")
                .distinct()
                .groupBy("cell")
                .agg(F.count("*").alias("n_pruned"))
            )

        fm = timed(full_prune)
        cm = timed(capped_prune)
        print(
            f"{os.path.basename(d.rstrip('/')):24s} {vecs:8d} {cells:6d} "
            f"{vecs / cells:8.1f} {pf:12d} {pc:10d} {fm:10.2f} {cm:9.2f}"
        )


if __name__ == "__main__":
    main()
