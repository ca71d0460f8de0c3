"""Scale helpers: skew-aware joins, bucketing, partition advice.

None of these change query semantics — they are physical-layout tools for
the 100 TB tier:

  * ``salted_join`` — explicit hot-key mitigation when AQE's skew-join
    splitting isn't available (e.g. broadcast side too big, or pre-3.0
    clusters): replicate the small side R ways, scatter the big side's hot
    keys across R salt buckets, join on (key, salt).
  * ``bucketize`` — write bucketed+sorted by join key so later joins on the
    key are shuffle-free (bucketed scan ↔ bucketed scan co-location).
  * ``repartition_for_join`` — pre-shuffle both sides once on the key so a
    chain of operations against the same key reuses one exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartpy_arc_spark.operators import _ckpt
from smartpy_arc_spark.sources.scan import read_parquet
from smartpy_arc_spark.sqltext import lit_map


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's keys scattered over ``salt`` buckets.

    The small side is exploded ×salt (bounded blow-up), the big side gets a
    deterministic salt from a hash of its whole row spread via
    ``monotonically_increasing_id`` — every task then holds ~1/salt of each
    hot key.  Join keys keep their original names in the output (small-side
    key dropped like ``enrich_join``)."""
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    salted_big = big.withColumn(
        "_salt",
        (F.abs(F.xxhash64(*[F.col(c) for c in big.columns])) % salt).cast("int"),
    )
    joined = salted_big.join(
        salted_small,
        (salted_big[big_key] == salted_small[small_key])
        & (salted_big["_salt"] == salted_small["_salt"]),
        how,
    )
    return joined.drop(salted_small[small_key]).drop("_salt")


def bucketize(
    df: DataFrame,
    table_name: str,
    key: str,
    *,
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist hash-bucketed (and sorted) by ``key`` so subsequent joins or
    aggregations on ``key`` read co-located buckets with no exchange.
    Returns the re-read bucketed table."""
    writer = df.write.mode(mode).bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table_name)
    return df.sparkSession.table(table_name)


def repartition_for_join(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str,
    n_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Hash-partition both sides identically on their join keys; Catalyst
    then reuses the exchange for every downstream join/agg on the key."""
    spark = left.sparkSession
    n = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        left.repartition(n, F.col(left_key)),
        right.repartition(n, F.col(right_key)),
    )


def morton_code(x, y, *, bits: int = 8):
    """Interleave the low ``bits`` bits of two non-negative integer columns
    into a Z-order (Morton) value: x's bit b lands at position 2b+1, y's at
    2b.  Pure shift/and/or expression — whole-stage codegen, engine-portable
    (the same expression is SQL in any dialect with bit operators)."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for b in range(bits):
        # .bitwiseOR, not `|`: on Columns `|` is logical OR and fails on longs
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return z


def cluster_zorder(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 12,
    n_partitions: int | None = None,
) -> DataFrame:
    """Re-layout ``df`` along a Z-order curve over two numeric columns so
    parquet row-group/file min-max statistics prune *both* dimensions.

    A linear sort clusters only its leading column: a predicate on the
    second column hits every file.  Z-ordering interleaves the bits of
    min-max-normalized ranks of both columns, so every file covers a small
    *rectangle* of the value space and a selective predicate on either
    column (or a 2-D box) skips most files at scan time.

    Two jobs: a scalar min/max aggregate (2·|cols| numbers to the driver —
    bounded, not a collect of data), then one range-shuffle + in-partition
    sort.  This is the batch maintenance operation a 100 TB table runs per
    partition; at that tier you'd pick ``n_partitions`` from
    ``partition_advice`` and run it under ``TempOverwrite``.
    """
    if len(cols) != 2:
        raise ValueError("cluster_zorder currently interleaves exactly 2 columns")
    cx, cy = cols
    stats = df.agg(
        F.min(cx).alias("nx"), F.max(cx).alias("xx"),
        F.min(cy).alias("ny"), F.max(cy).alias("xy"),
    ).first()
    top = (1 << bits) - 1

    def norm(c: str, lo, hi):
        if lo is None or hi is None or hi == lo:
            return F.lit(0).cast("long")
        scale = float(top) / (float(hi) - float(lo))
        return F.least(
            F.lit(top).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                ((F.col(c).cast("double") - float(lo)) * scale).cast("long"),
            ),
        )

    z = morton_code(norm(cx, stats["nx"], stats["xx"]),
                    norm(cy, stats["ny"], stats["xy"]), bits=bits)
    out = df.withColumn("_z", z)
    n = n_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        out.repartitionByRange(n, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 12,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered on a Z-order curve over ``cols``
    (one output file per range partition; each file's min-max footer stats
    then prune 2-D predicates at read time)."""
    cluster_zorder(df, cols, bits=bits, n_partitions=n_files).write.mode(
        mode
    ).parquet(path)


def partition_advice(
    spark: SparkSession,
    total_bytes: int,
    *,
    target_partition_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Sizing advice for a dataset of ``total_bytes``: shuffle partition
    count targeting ~128 MB per partition (the classic rule), clamped to at
    least the default parallelism."""
    parallelism = spark.sparkContext.defaultParallelism
    n = max(parallelism, total_bytes // target_partition_bytes or 1)
    return {
        "shuffle_partitions": int(n),
        "maxPartitionBytes": target_partition_bytes,
        "note": "set spark.sql.shuffle.partitions and "
                "spark.sql.files.maxPartitionBytes; AQE coalesces the excess",
    }


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    *,
    fact_key: str,
    dim_key: str,
    num_bits: int = 65536,
    num_hashes: int = 3,
    how: str = "inner",
) -> DataFrame:
    """Runtime-filter join: build a Bloom filter over ``dim``'s keys, drop
    fact rows that cannot match *before* the shuffle, then run the exact
    join.

    This is the manual form of Spark's runtime row-level filtering
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``; the JVM
    ``bloom_filter_agg`` expression is not registered for direct use):
    at 100 TB the shuffle of the fact side dominates a selective join, and
    a bitset membership test at the scan cuts shuffled bytes by the dim
    side's selectivity.  False positives are eliminated by the real join
    that follows, so the result is EXACTLY the plain join's result for
    inner and left-semi joins — correctness never depends on the filter.

    Build: each dim key sets ``num_hashes`` bit positions
    (``pmod(xxhash64(key, seed), num_bits)``); one hash-aggregate ORs the
    bits into 64-bit words, and only the *set* words come back to the
    driver (bytes, not rows — the same driver-merge a native bloom build
    does).  Probe: the dense word array ships as a broadcast literal and
    each fact row tests its ``num_hashes`` bits with ``element_at`` +
    bitmask — whole-stage codegen, no Python, no extra shuffle.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom prefilter preserves semantics only for inner/left_semi, got {how!r}"
        )
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")

    # seeds are int32 literals on BOTH sides — xxhash64 hashes (value, type),
    # so an int seed here and a bigint seed there would build/probe
    # different bit positions
    positions = [
        f"pmod(xxhash64(`{{key}}`, {i}), {num_bits})" for i in range(num_hashes)
    ]

    set_words = (
        dim.select(
            F.explode(
                F.array(
                    *[F.expr(p.format(key=dim_key)) for p in positions]
                )
            ).alias("pos")
        )
        .selectExpr(
            "pos div 64 as word",
            "shiftleft(1L, cast(pos % 64 as int)) as bit",
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()  # bounded: num_bits / 64 words
    )
    words = [0] * (num_bits // 64)
    for r in set_words:
        words[r["word"]] = r["bits"]
    bloom = F.array(*[F.lit(w).cast("long") for w in words])

    probe = None
    for p in positions:
        pos = p.format(key=fact_key)
        hit = F.expr(
            f"(element_at(__bloom__, cast(({pos}) div 64 as int) + 1)"
            f" & shiftleft(1L, cast(({pos}) % 64 as int))) != 0"
        )
        probe = hit if probe is None else (probe & hit)
    filtered = fact.withColumn("__bloom__", bloom).where(probe).drop("__bloom__")
    return filtered.join(dim, filtered[fact_key] == dim[dim_key], how)


def partitioned_cumsum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    *,
    prefix: str = "cum_",
    inclusive: bool = True,
    materialize: bool = True,
    grand_totals: dict | None = None,
) -> DataFrame:
    """Global running sums over ``order_cols`` WITHOUT a single-partition
    window.

    ``row_number()/sum() OVER (ORDER BY ...)`` with no PARTITION BY pulls
    the whole table through one task — the classic scale cliff for
    rank/CDF computations.  This primitive keeps the sort distributed:

      1. ``repartitionByRange(order_cols)`` — partition *i* holds globally
         smaller keys than partition *i+1* (one range-exchange, same cost
         class as any global sort);
      2. per-partition running sums via a window PARTITIONED BY
         ``spark_partition_id()`` (never crosses tasks);
      3. one tiny job aggregates per-partition totals (numPartitions rows
         to the driver), whose exclusive prefix sums come back as a
         broadcast literal map added to every row's local running sum.

    Emits one ``{prefix}{col}`` per entry of ``sum_cols`` (inclusive
    running sum by default; ``inclusive=False`` gives the exclusive
    "sum of everything strictly before this row's frame").  Rows that tie
    on ``order_cols`` are ordered arbitrarily among themselves — pass a
    unique tiebreaker as the last order col when that matters.

    ``materialize=True`` (default since r11, guide §2.4/§5)
    localCheckpoints the range-partitioned sorted frame BEFORE the
    per-partition-totals collect: the input is sampled once (range
    boundaries) and sorted ONCE, with both the totals job and the
    windowed output reading the materialized partitions — the
    un-materialized form re-executed the full exchange+sort for the
    totals collect AND again for every downstream action, and its
    correctness silently relied on ``repartitionByRange`` re-executing
    deterministically between those passes.  ``materialize=False``
    restores the recompute form (plan-inspection/tests).
    """
    from pyspark.sql import Window

    part = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    if materialize:
        part = part.localCheckpoint()
    totals = part.groupBy("__pid").agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    ).collect()  # bounded: one row per partition
    offsets: dict[str, dict[int, float]] = {c: {} for c in sum_cols}
    acc = {c: 0 for c in sum_cols}
    for r in sorted(totals, key=lambda r: r["__pid"]):
        for c in sum_cols:
            offsets[c][r["__pid"]] = acc[c]
            acc[c] += r[c] or 0
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    out = part
    for c in sum_cols:
        if offsets[c]:
            off = F.create_map(
                *[F.lit(v) for kv in offsets[c].items() for v in kv]
            )[F.col("__pid")]
        else:
            # empty input: zero partitions collected — an argless
            # create_map() types its keys VOID and map()[__pid] fails
            # analysis; the offset of nothing is 0
            off = F.lit(0)
        local = F.sum(F.col(c)).over(w)
        out = out.withColumn(
            prefix + c,
            F.coalesce(local, F.lit(0)) + off,
        )
    if grand_totals is not None:
        grand_totals.update(acc)
    return out.drop("__pid")


def distributed_ntile(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    *,
    out_col: str = "bucket",
) -> DataFrame:
    """SQL ``NTILE(k) OVER (ORDER BY ...)`` without the single-partition
    window: global row numbers come from ``partitioned_cumsum`` (range
    partition + broadcast offsets) and the bucket is the closed-form
    NTILE rule — with ``q = n div k`` and ``r = n mod k``, the first
    ``r`` buckets take ``q+1`` rows, the rest ``q`` — applied row-locally.

    Ties on ``order_cols`` land in arbitrary buckets exactly as NTILE's
    nondeterminism does; pass a unique tiebreaker as the last order col
    for reproducible output (the oracle-facing queries always do).
    """
    with_one = df.withColumn("__one", F.lit(1))
    # n comes from the cumsum's own per-partition-totals collect (r11,
    # guide §2.1/§5.3) — the former count-agg job + crossJoin(broadcast)
    # re-read the whole cumsum output for one scalar
    gt: dict = {}
    cum = partitioned_cumsum(with_one, order_cols, ["__one"], grand_totals=gt)
    n = int(gt["__one"])
    rank = F.col("cum___one").cast("long")
    q = n // k
    r = n - q * k
    head = r * (q + 1)
    q_div = F.lit(q).cast("long") if q > 0 else F.lit(None).cast("long")
    bucket = F.when(
        rank <= F.lit(head).cast("long"),
        F.ceil(rank / F.lit(q + 1).cast("long")),
    ).otherwise(
        F.lit(r).cast("long") + F.ceil((rank - F.lit(head).cast("long")) / q_div)
    )
    return (
        cum.withColumn(out_col, bucket.cast("int"))
        .drop("__one", "cum___one")
    )


REFINE_CAP = 1 << 22  # rows a bracketing bucket may carry to the final pass
_PCT_BITS = (4, 16, 28, 40)  # mantissa bits each refinement level resolves
_PCT_TOP = 2101  # octave + 1075 <= 2099, so TOP << bits > any finite bucket


def _pct_bucket(v: F.Column, level: int) -> F.Column:
    """Order-preserving bucket of double ``v`` at refinement ``level``:
    the sign-mirrored binary octave times ``2**_PCT_BITS[level]`` mantissa
    slices, with one bucket each for ±0, ±Inf and NaN (Spark's largest
    double) and NULL for NULL.

    The octave ``floor(log2|v|)`` is non-decreasing in ``|v|`` (the JVM
    ``log`` is semi-monotonic); a 1-ulp ``log2`` only clamps a value into
    the adjacent slice.  Scaling by powers of two is exact (subnormals are
    prescaled so the scale never overflows), so the slice at a deeper
    level refines the slice above it: every level-d+1 bucket lies inside
    one level-d bucket, and equal values share a bucket at every level."""
    bits = _PCT_BITS[level]
    top = F.lit(_PCT_TOP << bits).cast("long")
    av = F.abs(v)
    e = F.floor(F.log2(av))
    frac = F.when(  # 2**-e overflows for subnormals: prescale them
        e < -1000,
        av * F.lit(2.0 ** 100) * F.pow(F.lit(2.0), (-e - 100).cast("double")),
    ).otherwise(av * F.pow(F.lit(2.0), (-e).cast("double"))) - F.lit(1.0)
    m = F.least(
        F.greatest(F.floor(frac * F.lit(float(1 << bits))), F.lit(0).cast("long")),
        F.lit((1 << bits) - 1).cast("long"),
    )
    mag = F.shiftleft(e + F.lit(1075), bits) + m + F.lit(1).cast("long")
    return (  # a NULL v falls through to -mag, which is NULL
        F.when(F.isnan(v), top + 1)
        .when(v == F.lit(float("inf")), top)
        .when(v == F.lit(float("-inf")), -top)
        .when(v == F.lit(0.0), F.lit(0).cast("long"))
        .when(v > 0, mag)
        .otherwise(-mag)
    )


def _pct_walk(hist: dict, before: int, targets: list) -> list:
    """Buckets of one histogram, in value order, that hold the sorted
    1-based rank ``targets``: ``(bucket, rows before it, its rows, its
    targets)``, where ``before`` counts the rows ahead of the histogram."""
    out, i = [], 0
    for b in sorted(hist):
        j = i
        while j < len(targets) and targets[j] <= before + hist[b]:
            j += 1
        if j > i:
            out.append((b, before, hist[b], targets[i:j]))
        i, before = j, before + hist[b]
    return out


def _lit_lookup(entries: dict, *key: F.Column) -> F.Column:
    """``entries[key]`` per row, NULL where absent, for int or int-tuple
    keys and int or float values.  A tuple key nests one literal map per
    component, so a lookup scans only the maps along its path.  The maps
    are one SQL expression: two JVM calls however many entries there are
    (a map of ``F.lit`` pairs costs several per entry)."""
    nested: dict = {}
    for k, v in entries.items():
        k = k if isinstance(k, tuple) else (k,)
        d = nested
        for part in k[:-1]:
            d = d.setdefault(part, {})
        d[k[-1]] = v

    def sql(x) -> str:
        if isinstance(x, dict):
            return "map(" + ", ".join(
                f"{k}L, {sql(v)}" for k, v in x.items()
            ) + ")"
        return f"{x!r}D" if isinstance(x, float) else f"{x}L"

    col = F.expr(sql(nested))
    for c in key:
        col = col[c.cast("long")]
    return col


def distributed_exact_percentiles(
    df: DataFrame,
    specs: list[tuple[str, list[float], str]],
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Bit-exact replica of ``percentile(col, array(*fracs))`` [per
    ``group_col``] WITHOUT the exact-percentile buffer (guide §5).

    The builtin exact ``percentile()`` is an ObjectHashAggregate whose
    per-group buffer holds a counts-map of EVERY distinct value of the
    column, merged through ONE final exchange — at 100 TB the final
    aggregation task for a hot group materializes the whole column's
    value domain in memory: an executor OOM, not a slow query.  This
    primitive keeps the same exact semantics with bounded state, by
    driver-coordinated histogram bisection on one bucket map,
    ``_pct_bucket``, at four nested levels (16, 2^16, 2^28 and 2^40
    mantissa slices per octave):

      1. one pass melts the requested columns and counts rows per
         (group, column, level-0 bucket) — codegen only, no sort, no
         min/max pass.  The driver collects it
         (``_ckpt.collect_if_fits``, at most ``COLLECT_ROW_CAP`` rows)
         and learns every group's N, hence the rank targets
         ``(N-1)·frac``, the group list (NULL rows keep all-NULL groups)
         and the exact rank range of every bucket;
      2. a bucket that brackets a target and holds more than
         ``REFINE_CAP`` rows is re-counted at the next level: the same
         histogram pass, filtered to the fat buckets.  Because the levels
         nest, the children partition their parent in value order, so
         one walk locates the targets at every level.  Keys are
         (group, column, bucket) structs, never multiplied together.
         Mass still over the cap at the last level is tie mass;
      3. one final pass keeps ONLY rows in bracketing buckets: a
         row_number window over the survivors plus a literal
         skipped-rows offset per bucket restores exact in-group ranks,
         and one conditional-min aggregate resolves the brackets and
         emits the one-row-per-group output;
      4. the interpolation replicates ``Percentile.getPercentile``:

             position = (N-1).toDouble * frac            (Long * Double)
             lower, higher = floor(position), ceil(position)
             lowerKey  = first value with in-group rank >= lower + 1
             higherKey = first value with in-group rank >= higher + 1
             result = lowerKey                      if higher == lower
                      lowerKey                      if higherKey == lowerKey
                      (higher-position)*lowerKey + (position-lower)*higherKey

         with the two coefficients computed driver-side from the same
         Long→Double conversions and the multiply-add run in codegen in
         the same order.  Buckets only steer which rows reach the final
         pass; the bracket VALUES come from exact integer ranks, so a
         result bit never depends on where a bucket edge falls.
         Bit-equality with the builtin is pinned by
         tests/test_percentiles.py.

    Scale shape: 2 column-pruned scans plus one filtered scan per
    refinement level used (at most 3); every shuffle and the driver
    state are bounded by #groups × #cols × occupied buckets; nothing
    input-sized is cached or checkpointed.  ``specs`` is a list of
    ``(value_col, fracs, out_col)``; the output has one row per group
    present in ``df`` (groups whose values are all NULL yield NULL, and
    an empty ``fracs`` yields NULL for every group, like the builtin)
    and one ``array<double>`` column per spec.  EAGER: collects the
    histograms at construction time.  Raises ``ValueError`` for NULL
    group keys (literal maps cannot key on NULL) and when the level-0
    histogram exceeds ``COLLECT_ROW_CAP`` rows.  ±0.0 follow Spark SQL
    grouping normalization rather than the builtin's raw-key map, which
    only diverges on data holding both -0.0 and +0.0.
    """
    import math

    from pyspark.sql import Window

    g_expr = F.col(group_col) if group_col is not None else F.lit(0)
    melted = df.select(
        g_expr.alias("__g"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("__wc"), F.col(c).cast("double").alias("__v"))
            for i, (c, _, _) in enumerate(specs)
        ])).alias("__e"),
    ).select("__g", "__e.__wc", "__e.__v")
    g_type = melted.schema["__g"].dataType

    def _bucket_hist(rows: DataFrame, level: int, by: str) -> DataFrame:
        b = _pct_bucket(F.col("__v"), level).alias("__b")
        return rows.groupBy(by, "__wc", b).agg(F.count(F.lit(1)).alias("__n"))

    # ---- level 0: the only unfiltered histogram, collected under a cap
    hist0 = _ckpt.collect_if_fits(_bucket_hist(melted, 0, "__g"))
    if hist0 is None:
        raise ValueError(
            f"distributed_exact_percentiles: the histogram over group column "
            f"{group_col!r} has more than {_ckpt.COLLECT_ROW_CAP} (group, "
            f"column, bucket) rows; use percentile_approx, or fewer groups"
        )
    if any(r["__g"] is None for r in hist0):
        raise ValueError(
            "distributed_exact_percentiles: NULL group keys unsupported"
        )
    if not hist0 and group_col is None:
        # the ungrouped form emits exactly one row even on empty input,
        # like a global agg
        return df.sparkSession.range(1).select(*[
            F.lit(None).cast("array<double>").alias(out_col)
            for (_, _, out_col) in specs
        ])

    # groups are numbered on the driver; every other literal map keys on
    # the number, so it is built from one SQL string (_lit_lookup), and
    # so is the number map itself, for the key types SQL text renders
    groups = list(dict.fromkeys(r["__g"] for r in hist0))
    gid = {g: i for i, g in enumerate(groups)}
    gcol = lit_map(list(gid.items()))[F.col("__g")]
    segs: dict[tuple, dict[int, int]] = {}  # (gid, wc) -> bucket -> rows
    for r in hist0:
        if r["__b"] is not None:  # NULL values only mark group presence
            segs.setdefault((gid[r["__g"]], r["__wc"]), {})[r["__b"]] = r["__n"]
    n_gw = {gw: sum(bs.values()) for gw, bs in segs.items()}

    def _lookup(level: int, entries: dict) -> F.Column:
        """Each row's value in ``entries``, keyed by (gid, column, bucket
        at ``level``); NULL for rows outside it."""
        return _lit_lookup(
            entries, gcol, F.col("__wc"), _pct_bucket(F.col("__v"), level)
        )

    # rank targets per (group, column): the integer ranks (1-based) of the
    # two values bracketing every requested fraction
    targets: dict[tuple, list] = {}
    for (gi, wc), n in n_gw.items():
        ts: set = set()
        for p in specs[wc][1]:
            pos = float(n - 1) * float(p)
            ts.update((math.floor(pos) + 1, math.ceil(pos) + 1))
        if ts:
            targets[(gi, wc)] = sorted(ts)

    # ---- walk each level; fat bracketing buckets go one level deeper
    # segment: ((gid, wc), rows ahead of it in (gid, wc), targets, histogram)
    segments = [(gw, 0, ts, segs[gw]) for gw, ts in targets.items()]
    finals: list[tuple] = []  # (gid, wc, before, rows, level, bucket)
    level = 0
    while segments:
        fat: dict[tuple, tuple] = {}  # (gid, wc, b) -> (before, targets)
        top = _PCT_TOP << _PCT_BITS[level]
        for (gi, wc), before, ts, hist in segments:
            for b, b_before, rows, b_ts in _pct_walk(hist, before, ts):
                if (
                    rows > REFINE_CAP
                    and level + 1 < len(_PCT_BITS)
                    and 0 < abs(b) < top  # ±0, ±Inf, NaN hold one value
                ):
                    fat[(gi, wc, b)] = (b_before, b_ts)
                else:
                    finals.append((gi, wc, b_before, rows, level, b))
        if not fat:
            break
        # the filter map's value is the parent's index in ``fat``
        parent = _lookup(level, {k: i for i, k in enumerate(fat)})
        sub: dict[int, dict[int, int]] = {}
        for r in _bucket_hist(
            melted.withColumn("__p", parent).where(F.col("__p").isNotNull()),
            level + 1, "__p",
        ).collect():  # bounded: 2^12 child buckets per fat parent
            sub.setdefault(r["__p"], {})[r["__b"]] = r["__n"]
        segments = [
            ((gi, wc), before, ts, sub[i])
            for i, ((gi, wc, _), (before, ts)) in enumerate(fat.items())
        ]
        level += 1

    # rank-restoring offset per final bucket: the final window numbers ALL
    # of a group's surviving rows in (column, value) order, so a row's
    # exact in-(group, column) rank = row_number + (rows of its column
    # ahead of its bucket) − (surviving rows of its group ahead of it)
    miss: dict[int, dict] = {}
    ahead: dict[int, int] = {}
    for gi, wc, before, rows, lvl, b in sorted(finals):
        miss.setdefault(lvl, {})[(gi, wc, b)] = before - ahead.get(gi, 0)
        ahead[gi] = ahead.get(gi, 0) + rows
    lookups = [_lookup(lvl, m) for lvl, m in sorted(miss.items())]
    miss_col = F.coalesce(*lookups) if lookups else F.lit(None).cast("long")

    # ---- final pass: survivors only, exact in-group ranks, brackets.
    # Ranks come from a row_number over the RAW survivor rows — no
    # per-value collapse needed, because every row of a tied value sits
    # in one bucket, so the first row whose running count reaches a
    # target rank already carries exactly the bracket VALUE (later tie
    # rows repeat it and cannot win the min).  The window partitions by
    # GROUP only (ordered by column, then value — the per-column rank
    # base is folded into the miss map above), so the brackets aggregate
    # keyed by group reuses the window's hash(group) exchange: one
    # exchange for the whole tail.  A partition is one group's surviving
    # rows — bounded by #cols × #targets × REFINE_CAP — and a sort
    # window spills rather than buffering (never the builtin's in-memory
    # value map).
    survivors = (
        melted.where(F.col("__v").isNotNull())
        .withColumn("__miss", miss_col)
        .where(F.col("__miss").isNotNull())
    )
    w = Window.partitionBy("__g").orderBy("__wc", "__v")
    cum = survivors.withColumn(
        "cum___cnt", F.row_number().over(w) + F.col("__miss")
    )

    cig = F.col("cum___cnt")  # already the exact in-group rank
    mins, val_exprs = [], []
    for i, (_, fracs, out_col) in enumerate(specs):
        rows_i = [(gi, n) for (gi, wc), n in n_gw.items() if wc == i and n]
        elems = []
        for j, p in enumerate(fracs):
            lo_r, hi_r, c_lo, c_hi, interp = {}, {}, {}, {}, {}
            for gi, n in rows_i:
                pos = float(n - 1) * float(p)
                lo, hi = math.floor(pos), math.ceil(pos)
                lo_r[gi] = lo + 1
                hi_r[gi] = hi + 1
                interp[gi] = 1 if hi != lo else 0
                c_lo[gi] = float(hi) - pos
                c_hi[gi] = pos - float(lo)
            lo_v = F.col(f"__lo_{i}_{j}")
            hi_v = F.col(f"__hi_{i}_{j}")
            if rows_i:
                for name, ranks in (("lo", lo_r), ("hi", hi_r)):
                    mins.append(F.min(F.when(
                        (F.col("__wc") == i) & (cig >= _lit_lookup(ranks, gcol)),
                        F.col("__v"),
                    )).alias(f"__{name}_{i}_{j}"))
                elems.append(
                    F.when(_lit_lookup(interp, gcol) == 0, lo_v)
                    .when(lo_v == hi_v, lo_v)
                    .otherwise(
                        _lit_lookup(c_lo, gcol) * lo_v
                        + _lit_lookup(c_hi, gcol) * hi_v
                    )
                )
            else:
                mins.append(F.min(F.lit(None).cast("double")).alias(f"__lo_{i}_{j}"))
                mins.append(F.min(F.lit(None).cast("double")).alias(f"__hi_{i}_{j}"))
                elems.append(F.lit(None).cast("double"))
        # a group with zero non-null values in THIS column yields NULL
        # (not an array of NULLs), exactly like the builtin's empty buffer;
        # so does every group of an empty-fracs spec, like percentile(c,
        # array())
        if rows_i and fracs:
            present = _lit_lookup({gi: 1 for gi, _ in rows_i}, gcol)
            val_exprs.append(
                F.when(present == 1, F.array(*elems))
                .otherwise(F.lit(None).cast("array<double>"))
                .alias(out_col)
            )
        else:
            val_exprs.append(F.lit(None).cast("array<double>").alias(out_col))
    # every spec empty-fracs: no bracket to resolve, but agg() needs one
    # expression; the select below drops it
    brackets = cum.groupBy("__g").agg(*(mins or [F.count(F.lit(1))]))
    out = brackets.select("__g", *val_exprs)

    # groups with no rank target (every value NULL, or non-NULL only in
    # empty-fracs specs) have no surviving rows; their one all-NULL
    # output row is appended from the (bounded) pass-1 group list
    targeted = {gi for gi, _ in targets}
    absent = [g for g in groups if gid[g] not in targeted]
    if absent:
        from pyspark.sql.types import StructField, StructType

        g_field = StructField("__g", g_type)
        extra = df.sparkSession.createDataFrame(
            [(g,) for g in absent], StructType([g_field])
        ).select(
            "__g",
            *[
                F.lit(None).cast("array<double>").alias(out_col)
                for (_, _, out_col) in specs
            ],
        )
        out = out.unionByName(extra)

    if group_col is not None:
        return out.withColumnRenamed("__g", group_col)
    return out.drop("__g")



def skew_report(
    df: DataFrame,
    key_col: str,
    *,
    top_k: int = 10,
) -> DataFrame:
    """Join-planning skew profile of a key column: the ``top_k`` heaviest
    keys with their share of all rows and the skew factor
    ``count / mean_count_per_key`` — the number that decides between a
    plain shuffle join, AQE skew splitting, and explicit salting
    (``salted_join``; rule of thumb: factor > ~20 on a join key is where
    task stragglers start dominating the stage).

    One hash aggregate on the key + a 2-scalar broadcast; the top-k is a
    sorted limit over the aggregate, never over the detail.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count("*").alias("__n_keys"),
    )
    mean = F.col("__total").cast("double") / F.col("__n_keys").cast("double")
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            F.round(
                F.col("n_rows").cast("double")
                / F.col("__total").cast("double")
                * 1000000
            ).cast("long").alias("share_e6"),
            F.round(F.col("n_rows").cast("double") / mean * 100)
            .cast("long")
            .alias("skew_factor_e2"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(top_k)
    )


def compact_small_files(
    spark,
    src_dir: str,
    dst_dir: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> "DataFrame":
    """Small-file compaction — the table-maintenance op every long-lived
    lake table needs: streaming ingestion and fine-grained upserts leave
    thousands of KB-sized files, and at 100 TB the resulting task-per-file
    scheduling + open/close overhead dominates scans.  Rewrite the
    directory into ``ceil(total_bytes / target_bytes)`` files.

    The driver only LISTS the directory (names + sizes — metadata, never
    data); the rewrite itself is a distributed read → coalesce → write.
    ``coalesce(n_out)`` is a narrow dependency: each output task
    concatenates whole scan splits locally, so compaction moves ZERO
    bytes across the network, where ``repartition(n_out)`` would shuffle
    the entire table once (plus the sort-before-repartition every
    keyless repartition pays).  Scan splits are bounded by
    ``spark.sql.files.maxPartitionBytes`` (128 MB default), finer than
    any sane ``target_bytes``, so the scan always has >= ``n_out``
    partitions for coalesce to land on exactly; the repartition fallback
    guards the degenerate case (splitting fewer-than-``n_out``
    partitions can only be done by a shuffle).  Returns a 1-row
    DataFrame ``(n_files_before, n_files_after, n_rows)`` for the
    maintenance log.
    """
    import glob as _glob
    import math as _math
    import os as _os

    ext = {"parquet": ".parquet", "orc": ".orc"}[fmt]
    files = [
        p for p in _glob.glob(_os.path.join(src_dir, f"*{ext}"))
        if _os.path.isfile(p)
    ]

    def load(path: str) -> DataFrame:
        if fmt == "parquet":
            return read_parquet(spark, path)
        return spark.read.format(fmt).load(path)

    total = sum(_os.path.getsize(p) for p in files)
    n_out = max(1, _math.ceil(total / target_bytes))
    df = load(src_dir)
    if df.rdd.getNumPartitions() >= n_out:
        sized = df.coalesce(n_out)
    else:  # more output files than scan splits: only a shuffle can split
        sized = df.repartition(n_out)
    sized.write.mode("overwrite").format(fmt).save(dst_dir)
    after = [
        p for p in _glob.glob(_os.path.join(dst_dir, f"*{ext}"))
        if _os.path.isfile(p)
    ]
    n_rows = load(dst_dir).count()
    return spark.createDataFrame(
        [(len(files), len(after), n_rows)],
        "n_files_before int, n_files_after int, n_rows long",
    )


def hilbert_code(x, y, *, bits: int = 8):
    """Hilbert-curve index of two non-negative integer columns in
    ``[0, 2^bits)`` — the locality-preserving alternative to
    :func:`morton_code` (Z-order) used by modern table formats for
    multi-dimensional clustering: Hilbert has no Z-shaped "jumps", so
    file min-max rectangles are tighter and 2-D range predicates skip
    more files.

    The classic xy→d walk (Hamilton's algorithm: per bit-plane, quadrant
    digit + reflect/swap rotation) runs as ONE ``aggregate`` HOF over the
    literal bit-plane list with an ``[x, y, d]`` accumulator — constant
    expression size (no per-bit plan unrolling), whole-stage codegen,
    pure integer ops, bit-identical in any engine folding the same list.
    """
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    planes = F.array(
        *[F.lit(1 << b).cast("long") for b in range(bits - 1, -1, -1)]
    )
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    init = F.array(x.cast("long"), y.cast("long"), zero)

    def step(acc, s):
        hx, hy, hd = (F.element_at(acc, i) for i in (1, 2, 3))
        rx = F.when(hx.bitwiseAND(s) > 0, one).otherwise(zero)
        ry = F.when(hy.bitwiseAND(s) > 0, one).otherwise(zero)
        # no CSE in HOF lambdas: rx/ry are re-inlined where used (bounded)
        d_new = hd + s * s * (
            (F.lit(3).cast("long") * rx).bitwiseXOR(ry)
        )
        # rotation: when ry = 0, reflect within the quadrant if rx = 1,
        # then swap the axes; when ry = 1 the frame is unchanged.
        x_new = F.when(ry == one, hx).otherwise(
            F.when(rx == one, s - one - hy).otherwise(hy)
        )
        y_new = F.when(ry == one, hy).otherwise(
            F.when(rx == one, s - one - hx).otherwise(hx)
        )
        return F.array(x_new, y_new, d_new)

    return F.element_at(F.aggregate(planes, init, step), 3)


def zone_map(
    df: DataFrame,
    zone_expr,
    stats_cols: list[str],
    predicates: dict[str, tuple[str, object, object]] | None = None,
) -> DataFrame:
    """Zone-map (data-skipping) statistics: per zone — a file/row-group
    surrogate such as ``floor(key / width)`` — the row count and min/max
    of each stats column, plus an optional ``scan_<name>`` 0/1 flag per
    named range predicate saying whether the zone's [min, max] envelope
    can satisfy it (0 = the scan planner skips the whole zone).  This is
    the parquet-footer / Delta-stats pruning decision made inspectable:
    the fraction of zones with ``scan_* = 0`` is the I/O the layout saves
    at 100 TB, and comparing it across layouts (sorted vs Z-order vs
    Hilbert) is how a layout choice is justified with data.

    One hash aggregate; min/max are algebraic so the map side collapses
    each partition to one row per zone before the (bounded) shuffle.

    ``predicates`` maps name → ``(col, lo, hi)`` (closed interval; either
    bound may be None for one-sided).
    """
    zone_expr = F.col(zone_expr) if isinstance(zone_expr, str) else zone_expr
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    zones = df.groupBy(zone_expr.alias("zone")).agg(*aggs)
    for name, (c, lo, hi) in (predicates or {}).items():
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(f"max_{c}") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"min_{c}") <= F.lit(hi))
        zones = zones.withColumn(f"scan_{name}", cond.cast("int"))
    return zones.orderBy("zone")


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_expr(lat, lon, *, precision: int = 8):
    """Geohash cell id of (lat, lon) at ``precision`` base-32 chars as a
    pure shift/and/concat Column expression — no UDF, whole-stage
    codegen, engine-portable (the ``morton_code`` contract).

    Equivalence to the textbook bisection construction: ``precision``
    chars carry 5p bits alternating lon (from the most significant bit)
    and lat; successive bisection of [-180, 180] / [-90, 90] is exactly
    floor-quantization to ``ceil(5p/2)`` / ``floor(5p/2)`` bits, so the
    cell index is one multiply+floor per axis (clamped at the top
    edge), then a bit interleave, then 5-bit groups mapped through the
    base-32 alphabet.
    """
    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    nbits = 5 * precision
    bits_lon = (nbits + 1) // 2
    bits_lat = nbits // 2
    ix = F.least(
        F.floor(
            (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << bits_lon))
        ).cast("long"),
        F.lit((1 << bits_lon) - 1),
    )
    iy = F.least(
        F.floor(
            (lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << bits_lat))
        ).cast("long"),
        F.lit((1 << bits_lat) - 1),
    )
    code = F.lit(0).cast("long")
    for b in range(bits_lon):
        # lon bit (bits_lon-1-b) -> global bit position (nbits-1 - 2b)
        code = code.bitwiseOR(
            F.shiftleft(
                F.shiftright(ix, bits_lon - 1 - b).bitwiseAND(F.lit(1)),
                nbits - 1 - 2 * b,
            )
        )
    for b in range(bits_lat):
        # lat bit (bits_lat-1-b) -> global bit position (nbits-2 - 2b)
        code = code.bitwiseOR(
            F.shiftleft(
                F.shiftright(iy, bits_lat - 1 - b).bitwiseAND(F.lit(1)),
                nbits - 2 - 2 * b,
            )
        )
    chars = F.array(*[F.lit(c) for c in GEOHASH_ALPHABET])
    return F.concat(
        *[
            F.element_at(
                chars,
                (
                    F.shiftright(code, 5 * (precision - 1 - g))
                    .bitwiseAND(F.lit(31))
                    + F.lit(1)
                ).cast("int"),
            )
            for g in range(precision)
        ]
    )


def geohash_sql(lat_expr: str, lon_expr: str, *, precision: int = 8) -> str:
    """The SQL mirror of :func:`geohash_expr`, generated from the SAME
    loop so the two expressions cannot drift."""
    nbits = 5 * precision
    bits_lon = (nbits + 1) // 2
    bits_lat = nbits // 2
    ix = (
        f"least(CAST(floor((({lon_expr}) + 180.0) / 360.0 "
        f"* {float(1 << bits_lon)}) AS BIGINT), {(1 << bits_lon) - 1})"
    )
    iy = (
        f"least(CAST(floor((({lat_expr}) + 90.0) / 180.0 "
        f"* {float(1 << bits_lat)}) AS BIGINT), {(1 << bits_lat) - 1})"
    )
    terms = []
    for b in range(bits_lon):
        terms.append(
            f"((({ix}) >> {bits_lon - 1 - b}) & 1) << {nbits - 1 - 2 * b}"
        )
    for b in range(bits_lat):
        terms.append(
            f"((({iy}) >> {bits_lat - 1 - b}) & 1) << {nbits - 2 - 2 * b}"
        )
    code = " | ".join(f"({t})" for t in terms)
    parts = [
        f"substr('{GEOHASH_ALPHABET}', "
        f"CAST(((({code}) >> {5 * (precision - 1 - g)}) & 31) + 1 "
        f"AS INTEGER), 1)"
        for g in range(precision)
    ]
    return " || ".join(parts)
