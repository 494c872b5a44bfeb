"""Bucketed-table co-located join: write both join sides bucketed on the
join key, then verify the join plans WITHOUT a shuffle exchange on either
side — the pre-partitioning strategy that turns the one big-big join edge
(lineitem ⋈ orders at 100 TB) into a zero-shuffle merge.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from steam_prices_data_engineering_spark.sources.tables import read_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    o = read_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    l = read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # EXTERNAL tables under tmp_path: the default warehouse is relative to
    # the working directory, which may be the checkout.
    (
        o.write.mode("overwrite")
        .option("path", str(tmp_path / "b_orders"))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        l.write.mode("overwrite")
        .option("path", str(tmp_path / "b_lineitem"))
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )
    bo = spark.table("b_orders")
    bl = spark.table("b_lineitem")
    joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
    tree = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    ).split("\n\n")[0]
    # Bucketed on the join key on both sides: no shuffle exchange anywhere.
    assert "+- Exchange" not in tree and ":- Exchange" not in tree, tree
    # The join result is still correct.
    n = joined.count()
    expect = (
        read_table(spark, SF, "lineitem")
        .join(
            read_table(spark, SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert n == expect
