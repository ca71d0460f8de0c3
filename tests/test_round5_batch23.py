"""Batch-23: window-suite semantics (the Borůvka MST tests live in
test_components_merge.py)."""


def test_window_suite_tie_semantics(spark):
    import __spark_entry__ as entry

    df = spark.createDataFrame(
        [(1, 10, 500.0), (1, 11, 500.0), (1, 12, 300.0), (2, 20, 100.0)],
        "c_nationkey int, c_custkey int, c_acctbal double",
    )
    df.createOrReplaceTempView("_ws_customer")

    # run the same construction inline
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    bal = F.round(F.col("c_acctbal") * 100).cast("long")
    base = df.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("ck"),
        bal.alias("bal"),
    )
    w_tie = W.partitionBy("nk").orderBy(F.col("bal").desc(), F.col("ck"))
    w_val = W.partitionBy("nk").orderBy(F.col("bal").desc())
    n = F.count("*").over(W.partitionBy("nk"))
    rnk = F.rank().over(w_val)
    out = base.select(
        "nk",
        "ck",
        F.row_number().over(w_tie).alias("rn"),
        rnk.alias("rnk"),
        F.dense_rank().over(w_val).alias("drnk"),
        F.when(
            n > 1,
            F.round((rnk - 1).cast("double") / (n - 1).cast("double") * 1e6),
        )
        .otherwise(0)
        .cast("long")
        .alias("pr"),
        F.round(F.cume_dist().over(w_val) * 1e6).cast("long").alias("cd"),
        (F.first("bal").over(w_tie) - F.col("bal")).alias("gap"),
    )
    rows = {r.ck: r for r in out.collect()}
    # tied top pair: same rank/dense_rank, distinct row_number
    assert rows[10].rnk == rows[11].rnk == 1
    assert rows[10].drnk == rows[11].drnk == 1
    assert {rows[10].rn, rows[11].rn} == {1, 2}
    assert rows[12].rnk == 3 and rows[12].drnk == 2
    # percent_rank: (rank-1)/(n-1) -> 0, 0, 1
    assert rows[10].pr == 0 and rows[12].pr == 1_000_000
    # cume_dist of tied peers includes both
    assert rows[10].cd == rows[11].cd == 666667
    # single-row partition: percent_rank 0 by convention
    assert rows[20].pr == 0 and rows[20].cd == 1_000_000
    assert rows[12].gap == 20000
