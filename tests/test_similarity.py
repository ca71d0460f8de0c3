"""``operators/similarity.py::knn_cosine_bruteforce`` folds each vector's
squared norm once, on its own side of the join: its cosines are the same
doubles as the per-pair ``cosine()`` form, on the edge cases too.  It is
built from SQL text, with the plan and rows of its ``F.*`` Column form."""

import re
import struct
import threading

from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smartpy_arc_spark.operators import similarity as sim

VECS = [
    (0, [1.0, 2.0, 3.0]),
    (1, [0.1, -0.7, 1e-3]),
    (2, [0.0, 0.0, 0.0]),  # zero norm
    (3, [1.0, None, 2.0]),  # NULL element
    (4, [1.0, 2.0]),  # shorter than the rest
    (5, [3.3, 1e-9, -2.5]),
    (6, [1e154, 1e154, 1.0]),  # squared norm overflows to inf
    (7, None),
]


def _vectors(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>")


def _per_pair_knn(queries, corpus, k):
    """The former body: ``cosine()`` folds both norms for every pair."""
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("_qv"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("_cv"))
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", sim.cosine(F.col("_qv"), F.col("_cv")).alias("_cos"))
    w = W.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
            .select("query_id", "neighbor_id", F.round("_cos", 6).alias("cos_sim"), "rk"))


def _staged_column_knn(queries, corpus, k):
    """The Column form of the SQL-text body: ``_dot`` norms on each side,
    ``_cosine_from_norms`` per pair."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    ).withColumn("_qn2", sim._dot(F.col("_qv"), F.col("_qv")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("_cv"),
    ).withColumn("_cn2", sim._dot(F.col("_cv"), F.col("_cv")))
    pairs = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select("query_id", "neighbor_id", sim._cosine_from_norms(
        F.col("_qv"), F.col("_cv"), F.col("_qn2"), F.col("_cn2")).alias("_cos"))
    w = W.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)
            .select("query_id", "neighbor_id", F.round(F.col("_cos"), 6).alias("cos_sim"),
                    "rk"))


def _normalised_plan(df):
    """The optimized plan with lambda variable names blanked and
    expression ids renumbered in order of appearance: pyspark names a
    Column lambda's variables from a global counter (``x_1``, ``y_2``),
    SQL text by the names written."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"lambda \w+#", "lambda #", text)
    ids: dict = {}
    return re.sub(r"#(\d+)", lambda m: f"#{ids.setdefault(m[1], len(ids))}", text)


def _bits(x):  # NULL stays None; any last-bit change shows
    return None if x is None else struct.pack("<d", x)


def test_sql_text_knn_has_the_column_forms_plan_and_rows(spark):
    v = _vectors(spark)
    queries = v.where("vec_id < 7")
    got = sim.knn_cosine_bruteforce(queries, v, k=len(VECS))
    want = _staged_column_knn(queries, v, len(VECS))
    assert _normalised_plan(got) == _normalised_plan(want)
    assert got.schema == want.schema

    def rows(df):
        return sorted((r.query_id, r.rk, r.neighbor_id, _bits(r.cos_sim))
                      for r in df.collect())

    assert rows(got) == rows(want)


def test_knn_builds_in_few_py4j_commands(spark, monkeypatch):
    """About 750 commands as ``F.*`` Columns; the SQL text takes under
    150.  Commands sent from a finalizer thread are not counted."""
    v = _vectors(spark)
    client = spark.sparkContext._gateway._gateway_client
    me, calls, send = threading.get_ident(), [], client.send_command

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        sim.knn_cosine_bruteforce(v, v, k=5)
    finally:
        monkeypatch.undo()
    assert 0 < len(calls) < 150, len(calls)


def test_staged_norms_give_the_per_pair_doubles(spark):
    v = _vectors(spark)
    q = v.select(F.col("vec_id").alias("qi"), F.col("embedding").alias("a"))
    q = q.withColumn("a_n2", sim._dot(F.col("a"), F.col("a")))
    c = v.select(F.col("vec_id").alias("ci"), F.col("embedding").alias("b"))
    c = c.withColumn("b_n2", sim._dot(F.col("b"), F.col("b")))
    rows = c.crossJoin(q).select(
        "qi", "ci",
        sim.cosine(F.col("a"), F.col("b")).alias("per_pair"),
        sim._cosine_from_norms(F.col("a"), F.col("b"), F.col("a_n2"),
                               F.col("b_n2")).alias("staged"),
    ).collect()
    assert len(rows) == len(VECS) ** 2
    assert all(_bits(r.staged) == _bits(r.per_pair) for r in rows), [
        (r.qi, r.ci, r.staged, r.per_pair) for r in rows
        if _bits(r.staged) != _bits(r.per_pair)]
    nulls = {(r.qi, r.ci) for r in rows if r.staged is None}
    # zero norm, a NULL element, mismatched lengths, a NULL vector
    assert {(2, 0), (3, 0), (4, 0), (7, 0)} <= nulls
    assert (0, 1) not in nulls


def test_knn_matches_the_per_pair_form(spark):
    v = _vectors(spark)
    queries = v.where("vec_id < 5")
    got = sim.knn_cosine_bruteforce(queries, v, k=len(VECS)).collect()
    want = _per_pair_knn(queries, v, k=len(VECS)).collect()
    assert sorted(map(repr, got)) == sorted(map(repr, want))


def test_zero_against_overflowing_norm_is_null_and_ranks_last(spark):
    """``0 · inf`` is NaN, and Spark orders NaN above every number, so a
    bare ``denom > 0`` gate let the pair through and rank first; the
    finite positive gate makes it NULL, which sorts last under ``desc``."""
    v = spark.createDataFrame(
        [(0, [1e154, 1e154, 1.0]), (1, [1.0, 2.0, 3.0]), (2, [0.0, 0.0, 0.0]),
         (3, [3.0, 2.0, 1.0])],
        "vec_id long, embedding array<double>")
    a = v.select(F.col("vec_id").alias("qi"), F.col("embedding").alias("a"),
                 sim._dot(F.col("embedding"), F.col("embedding")).alias("a_n2"))
    b = v.select(F.col("vec_id").alias("ci"), F.col("embedding").alias("b"),
                 sim._dot(F.col("embedding"), F.col("embedding")).alias("b_n2"))
    pairs = b.crossJoin(a).where("qi != ci")
    for form in (
        sim.cosine(F.col("a"), F.col("b")),
        sim._cosine_from_norms(F.col("a"), F.col("b"), F.col("a_n2"), F.col("b_n2")),
    ):
        ranked = pairs.select("qi", "ci", form.alias("cos")).orderBy(
            F.desc("cos"), "qi", "ci").collect()
        cos = {(r.qi, r.ci): r.cos for r in ranked}
        assert cos[(0, 2)] is None and cos[(2, 0)] is None
        # finite inputs keep their doubles: 1·3 + 2·2 + 3·1 over 14
        assert cos[(1, 3)] == 10 / 14
        order = [(r.qi, r.ci) for r in ranked]
        assert order.index((0, 2)) > order.index((1, 3))
        assert all(r.cos is None for r in ranked[order.index((0, 2)):])
    knn = sim.knn_cosine_bruteforce(v.where("vec_id = 0"), v.where("vec_id < 3"), k=5)
    assert [(r.neighbor_id, r.cos_sim, r.rk) for r in knn.orderBy("rk").collect()] == [
        (1, None, 1), (2, None, 2)]
