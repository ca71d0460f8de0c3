"""The size policy in ``operators/_ckpt.py``: the one estimator, the pin
decision (``sized_local_checkpoint``), the broadcast gate
(``broadcast_if_small``) and the driver-collect bound
(``collect_if_fits``), plus guards that keep them the only ones."""

import ast
import os
import re
import warnings

import pytest

from smartpy_arc_spark.operators import _ckpt
from smartpy_arc_spark.operators._ckpt import (
    leaf_input_bytes,
    sized_local_checkpoint,
)
from smartpy_arc_spark.operators.join import enrich_join

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "smartpy_arc_spark",
)


@pytest.fixture
def no_auto_broadcast(spark):
    """Disable Spark's own auto-broadcast so a plan reflects only our hint."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _fallbacks(caught):
    return [w for w in caught if "falling back" in str(w.message)]


# ------------------------------------------------------------ pin decision

def test_sized_checkpoint_keeps_small_frames_and_skips_big(
    spark, sf_dir, monkeypatch
):
    """The size guard: under the cap the frame is materialized (LogicalRDD
    leaf, single-pass property kept); over the cap it is returned
    untouched (recompute-from-lineage, no non-replicated O(input) pin)."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag"
    )
    est = leaf_input_bytes(df)
    assert est is not None and est > 0

    kept = sized_local_checkpoint(df)
    assert "LogicalRDD" in kept._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setenv("SMARTPY_ARC_CKPT_CAP_BYTES", "1")
    skipped = sized_local_checkpoint(df)
    assert skipped is df  # untouched: lineage preserved

    # unsized leaves (createDataFrame locals) keep the status-quo checkpoint
    local = spark.createDataFrame([(1, "a")], "id int, s string")
    assert leaf_input_bytes(local) is None
    kept2 = sized_local_checkpoint(local)
    assert "LogicalRDD" in kept2._jdf.queryExecution().optimizedPlan().toString()


def test_sized_checkpoint_storage_level_and_values(spark):
    """sized_local_checkpoint stores serialized MEMORY_AND_DISK (the
    O(E)-table level) and is value-transparent."""
    from pyspark.storagelevel import StorageLevel

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "s long, d long")
    ck = sized_local_checkpoint(df)
    # `.rdd` wraps the plan in a fresh conversion RDD (level NONE), so
    # inspect the blocks the checkpoint actually registered with the
    # block manager: at least one cached RDD must be memory+disk and
    # SERIALIZED (deserialized=False)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    levels = [
        (
            i.storageLevel().useMemory(),
            i.storageLevel().useDisk(),
            i.storageLevel().deserialized(),
        )
        for i in infos
    ]
    assert (True, True, False) in levels, levels
    assert StorageLevel.MEMORY_AND_DISK.deserialized is False
    assert sorted(ck.collect()) == sorted(df.collect())


def _new_persisted_row_counts(spark, before):
    """Row counts of the RDDs persisted since ``before`` (a set of ids)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return [rdds.get(i).count() for i in rdds.keySet() if i not in before]


def test_sites_downstream_of_a_pin_stay_guarded(spark, tmp_path, monkeypatch):
    """link_predict's adjz joins the edges with a pinned degree table, so
    one of its leaves is a checkpoint.  Past the cap it must still
    recompute: the only pin left is the O(V) degree table, never an
    edge-sized frame."""
    from smartpy_arc_spark.operators.components import link_predict

    # a 10-clique plus a 10-chain: 54 edges over 20 nodes
    rows = [(i, j) for i in range(10) for j in range(i + 1, 10)]
    rows += [(i, i + 1) for i in range(10, 19)]
    path = str(tmp_path / "edges.parquet")
    spark.createDataFrame(rows, "src long, dst long").write.parquet(path)
    edges = spark.read.parquet(path)

    def persisted_by_call():
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        before = set(rdds.keySet())
        got = sorted(map(tuple, link_predict(edges).collect()))
        return got, _new_persisted_row_counts(spark, before)

    want, pinned = persisted_by_call()
    # sanity: under the default cap the edge-sized frames are pinned
    assert max(pinned) >= len(rows)

    monkeypatch.setenv("SMARTPY_ARC_CKPT_CAP_BYTES", "1")
    got, pinned = persisted_by_call()
    assert got == want
    assert pinned and max(pinned) < len(rows), pinned


# ---------------------------------------------------------- broadcast gate

def test_broadcast_hints_unsized_local_frame(spark, no_auto_broadcast):
    """A 10-row list createDataFrame has no leaf size (Catalyst's plan
    estimate is Long.MaxValue): its rows are already on the driver, so
    the enrichment side keeps its hint and nothing warns."""
    big = spark.range(1000).withColumnRenamed("id", "k")
    side = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "ek long, v string")
    assert leaf_input_bytes(side) is None
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = enrich_join(big, side, "k", "ek")
    assert "BroadcastHashJoin" in _plan(out)
    assert not _fallbacks(caught)
    assert out.count() == 10


def test_broadcast_keeps_hint_on_joined_enrichment_side(
    spark, sf_dir, no_auto_broadcast
):
    """Plan stats multiply under joins; leaf sums do not.  An enrichment
    side that is itself a join (orders ⋈ customer) stays broadcast."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    side = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).select("o_orderkey", "c_name")
    est = leaf_input_bytes(side)
    assert est is not None and est <= _ckpt.BROADCAST_CAP_BYTES
    target = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = enrich_join(target, side, "l_orderkey", "o_orderkey")
    assert "BroadcastHashJoin" in _plan(out)
    assert not _fallbacks(caught)
    assert out.count() == target.count()


def test_enrich_join_broadcast_cap_falls_back_to_shuffle(
    spark, monkeypatch, no_auto_broadcast
):
    big = spark.range(1000).withColumnRenamed("id", "k")
    side = spark.range(500).withColumnRenamed("id", "ek")
    monkeypatch.setattr(_ckpt, "BROADCAST_CAP_BYTES", 1)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = enrich_join(big, side, "k", "ek")
    plan = _plan(out)
    assert "BroadcastHashJoin" not in plan
    assert any(
        str(w.message).startswith("enrich_join:")
        and "falling back to shuffle join" in str(w.message)
        for w in caught
    )
    # sanity: under the default cap the hint does broadcast
    monkeypatch.undo()
    hinted = enrich_join(big, side, "k", "ek")
    assert "BroadcastHashJoin" in _plan(hinted)


# --------------------------------------------------------- driver collects

def _vec_df(spark, n, dim=4):
    rows = [(i, [float(i % 7)] * dim, i % 3) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label long")


def test_collect_if_fits_is_cheap_on_big_side(spark, monkeypatch):
    """The probe must not scan the full side: limit(n + 1).collect()."""
    monkeypatch.setattr(_ckpt, "COLLECT_ROW_CAP", 100)
    big = spark.range(0, 10_000_000)  # would be slow to fully count per-row
    assert _ckpt.collect_if_fits(big) is None
    # within bound: the rows themselves, up to and including the cap
    assert len(_ckpt.collect_if_fits(big.limit(50))) == 50
    assert len(_ckpt.collect_if_fits(big.limit(100))) == 100
    assert _ckpt.collect_if_fits(big.limit(101)) is None


def test_knn_classify_oversized_test_side_raises(spark, monkeypatch):
    """An unbounded scoring set must fail fast with a routing error, not
    collect to the driver."""
    from smartpy_arc_spark.operators.similarity import knn_classify

    monkeypatch.setattr(_ckpt, "COLLECT_ROW_CAP", 10)
    df = _vec_df(spark, 40)
    with pytest.raises(ValueError, match="knn_classify test side"):
        knn_classify(df, "vec_id", "embedding", "label", k=3).collect()


def test_knn_classify_within_bound_still_works(spark, monkeypatch):
    from smartpy_arc_spark.operators.similarity import knn_classify

    monkeypatch.setattr(_ckpt, "COLLECT_ROW_CAP", 10)
    df = _vec_df(spark, 20)
    out = knn_classify(df, "vec_id", "embedding", "label", k=3)
    assert out.count() == 10  # odd ids are the default test split


def test_pq_search_oversized_query_side_raises(spark, monkeypatch):
    from smartpy_arc_spark.operators.similarity import pq_encode, pq_search

    monkeypatch.setattr(_ckpt, "COLLECT_ROW_CAP", 5)
    df = _vec_df(spark, 30)
    books = [
        [[0.0, 0.0], [3.0, 3.0]],
        [[0.0, 0.0], [6.0, 6.0]],
    ]
    codes = pq_encode(df, books, vec_col="embedding", id_col="vec_id")
    with pytest.raises(ValueError, match="pq_search query side"):
        pq_search(
            df, codes, books, vec_col="embedding", id_col="vec_id", k=2,
        ).collect()


def test_conformal_interval_group_cap_raises(spark, monkeypatch):
    """The per-group train stats are collected: a group column with more
    groups than the cap raises, naming the column."""
    from smartpy_arc_spark.operators.stats import conformal_interval

    df = spark.createDataFrame(
        [(i % 40, float(i % 13), i) for i in range(400)],
        "g long, v double, k long",
    )
    monkeypatch.setattr(_ckpt, "COLLECT_ROW_CAP", 10)
    with pytest.raises(ValueError, match=r"group column 'g' has more than 10"):
        conformal_interval(df, "g", "v", ["k"])


# ------------------------------------------------------- structural guards

_CKPT = os.path.join("operators", "_ckpt.py")

# patterns no file outside _ckpt.py may contain
_OWNED = ("sizeInBytes", "StorageLevel.")


def _package_sources():
    """``(path relative to the package, source)`` of every module but
    _ckpt.py."""
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if name.endswith(".py") and rel != _CKPT:
                with open(path, encoding="utf-8") as fh:
                    yield rel, fh.read()


def _method_calls(text, *names):
    return [
        node
        for node in ast.walk(ast.parse(text))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in names
    ]


def test_size_policy_lives_only_in_ckpt():
    """No module but _ckpt.py sizes a frame or picks a storage level: a
    second estimator or another checkpoint wrapper fails here."""
    offenders = []
    for rel, text in _package_sources():
        for pattern in _OWNED:
            for m in re.finditer(re.escape(pattern), text):
                line = text.count("\n", 0, m.start()) + 1
                offenders.append(f"{rel}:{line}: {pattern}")
    assert not offenders, offenders


def test_row_probe_lives_only_in_ckpt():
    """A ``limit(n + 1)`` probe is a second driver-collect bound: outside
    _ckpt.py, frames of unknown size go through ``collect_if_fits``."""
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, text in _package_sources()
        for node in _method_calls(text, "limit")
        if node.args
        and isinstance(node.args[0], ast.BinOp)
        and isinstance(node.args[0].op, ast.Add)
        and isinstance(node.args[0].right, ast.Constant)
        and node.args[0].right.value == 1
    ]
    assert not offenders, offenders


def test_no_package_walk_jvm_lookups():
    """``spark._jvm.org.apache...`` resolves one package segment per py4j
    round trip, each a failed class lookup; JVM classes are reached
    through ``session.jclass``, a direct handle.  Applies to every
    module, _ckpt.py included."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            offenders += [
                f"{os.path.relpath(path, PKG)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "_jvm"
                and node.attr[:1].islower()
            ]
    assert not offenders, offenders


def test_driver_collects_name_their_bound():
    """Every ``.collect()`` / ``.toPandas()`` outside _ckpt.py carries a
    ``# bounded:`` comment naming its bound, on the call's line or in the
    comment lines right above it."""
    offenders = []
    for rel, text in _package_sources():
        lines = text.splitlines()
        for node in _method_calls(text, "collect", "toPandas"):
            i = node.func.end_lineno - 1
            notes = [lines[i]]
            while i > 0 and lines[i - 1].lstrip().startswith("#"):
                i -= 1
                notes.append(lines[i])
            if not any("# bounded:" in note for note in notes):
                offenders.append(f"{rel}:{node.func.end_lineno}")
    assert not offenders, offenders
