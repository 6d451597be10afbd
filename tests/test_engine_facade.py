"""Library surface outside the streaming core: the SQL views over the
oracle tables, and the Morton key of the dataset writer."""

from __future__ import annotations


def test_register_views_makes_sql_surface(spark, sf_dir):
    """After register_views, the oracle table names work in spark.sql —
    the whole relational surface is SQL-reachable."""
    from logspout_kinesis_tests_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem JOIN orders "
        "ON l_orderkey = o_orderkey"
    ).first()["n"]
    assert n > 0


def test_zorder_key_deinterleaves(spark):
    """Morton key round-trip: de-interleaving the key recovers both inputs
    for every (a, b) in a hostile grid including bit boundaries."""
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.sources.dataset import zorder_key

    vals = [0, 1, 2, 3, 255, 256, 1023, 1024, (1 << 21) - 1]
    df = spark.createDataFrame(
        [(a, b) for a in vals for b in vals], "a long, b long"
    ).withColumn("z", zorder_key("a", "b"))
    back = df.select(
        "a",
        "b",
        F.expr(
            "aggregate(sequence(0, 20), 0L, (acc, i) -> acc + shiftleft(shiftright(z, 2*i) & 1L, i))"
        ).alias("a2"),
        F.expr(
            "aggregate(sequence(0, 20), 0L, (acc, i) -> acc + shiftleft(shiftright(z, 2*i+1) & 1L, i))"
        ).alias("b2"),
    )
    assert back.filter("a != a2 OR b != b2").count() == 0
