"""Z-order layout: Morton arithmetic, and the measurable pruning property —
a 2-D box predicate can skip most files of a z-clustered layout (disjoint
per-file min/max on both dimensions) but none of a hash-shuffled one."""

from __future__ import annotations

from pyspark.sql import functions as F

from lithops_dataframe_spark.operators.layout import write_zordered, zorder_value


def test_zorder_bit_interleave(spark):
    # z(3, 5): a=011, b=101 → bits 0(a0),1(b0),2(a1),3(b1),4(a2),5(b2)
    #        = 1 + 2 + 4 + 0 + 0 + 32 = 39
    row = (
        spark.range(1)
        .select(zorder_value("3", "5").alias("z"), zorder_value("0", "0").alias("z0"))
        .collect()[0]
    )
    assert row.z == 39
    assert row.z0 == 0


def _file_stats(spark, path):
    df = spark.read.parquet(path)
    return (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .collect()
    )


def test_zorder_layout_enables_file_pruning(spark, tmp_path):
    n = 200_000
    data = spark.range(n).select(
        (F.col("id") % 1000).cast("int").alias("x"),
        ((F.col("id") * 7) % 1000).cast("int").alias("y"),
        F.col("id").alias("value"),
    )
    z_dir, s_dir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(data, "x", "y", z_dir, bits=10, n_files=16)
    data.repartition(16).write.mode("overwrite").parquet(s_dir)

    # predicate box: x in [100, 120], y in [300, 320]
    def prunable(stats):
        return sum(
            1
            for r in stats
            if r.max_x < 100 or r.min_x > 120 or r.max_y < 300 or r.min_y > 320
        )

    z_stats, s_stats = _file_stats(spark, z_dir), _file_stats(spark, s_dir)
    z_prunable, s_prunable = prunable(z_stats), prunable(s_stats)
    # z-clustered: most files' min/max boxes miss the predicate box
    assert z_prunable >= len(z_stats) * 0.5, (z_prunable, len(z_stats))
    # hash-shuffled: every file spans ~the full domain — nothing prunable
    assert s_prunable == 0, (s_prunable, len(s_stats))

    # and the filtered read returns identical results from both layouts
    pred = "x BETWEEN 100 AND 120 AND y BETWEEN 300 AND 320"
    z_sum = spark.read.parquet(z_dir).filter(pred).agg(F.sum("value")).collect()[0][0]
    s_sum = spark.read.parquet(s_dir).filter(pred).agg(F.sum("value")).collect()[0][0]
    assert z_sum == s_sum
