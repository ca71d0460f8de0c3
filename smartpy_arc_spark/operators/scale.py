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

from smartpy_arc_spark.sources.scan import read_parquet


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
        .collect()
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
    ).collect()
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


def distributed_exact_percentiles(
    df: DataFrame,
    specs: list[tuple[str, list[float], str]],
    *,
    group_col: str | None = None,
    n_buckets: int = 4096,
    refine_cap: int = 1 << 22,
    max_refine: int = 3,
) -> DataFrame:
    """Bit-exact replica of ``percentile(col, array(*fracs))`` [per
    ``group_col``] WITHOUT the exact-percentile buffer (guide §5).

    The builtin exact ``percentile()`` is an ObjectHashAggregate whose
    per-group buffer holds a counts-map of EVERY distinct value of the
    column, merged through ONE final exchange — at 100 TB the final
    aggregation task for a hot group materializes the whole column's
    value domain in memory: an executor OOM, not a slow query.  This
    primitive keeps the same exact semantics with BOUNDED state
    everywhere, via driver-coordinated histogram bisection:

      1. one pass melts the requested columns and histograms each
         (group, column) on a FIXED order-preserving bucket map — the
         float's binary octave ``floor(log2|v|)`` (the JVM guarantees
         ``log`` is semi-monotonic, so the octave is non-decreasing in
         ``|v|``) refined 16-way by mantissa slice, sign-mirrored, with
         dedicated buckets for ±0/±Inf/NaN/NULL — all codegen, no
         Python, no sort, no prior min/max pass, no range-exchange
         sampling.  The bounded collect (#groups × #cols × occupied
         octave-slices) gives the driver every group's N (→ the rank
         targets ``position = (N-1)·frac``), the group list (NULL rows
         carry all-NULL groups), and the exact in-group rank range of
         every bucket, locating the ≤ 2 buckets that bracket each
         requested fraction;
      2. buckets still holding more than ``refine_cap`` rows are
         re-histogrammed into ``n_buckets`` equal-width sub-buckets
         within their own bounds (≤ ``max_refine`` filtered passes; each
         round multiplies the resolution, so mass that stays over the
         cap is tie-mass, which collapses at step 3 anyway);
      3. one final pass keeps ONLY rows in bracketing buckets (for
         continuous data a few octave-slices of the input): a row_number
         window over the survivor set plus a literal
         count-of-skipped-rows map restores exact global in-group ranks
         and one conditional-min aggregate resolves the brackets and
         directly emits the one-row-per-group output (a driver-collect
         variant of this step measured SLOWER — createDataFrame of the
         literal result alone cost ~0.28 s — and was removed);
      4. the interpolation replicates ``Percentile.getPercentile``'s
         arithmetic exactly:

             position = (N-1).toDouble * frac            (Long * Double)
             lower, higher = floor(position), ceil(position)
             lowerKey  = first value with in-group rank >= lower + 1
             higherKey = first value with in-group rank >= higher + 1
             result = lowerKey                      if higher == lower
                      lowerKey                      if higherKey == lowerKey
                      (higher-position)*lowerKey + (position-lower)*higherKey

         with every float op the same separately-rounded IEEE double the
         builtin performs: the two coefficients are computed driver-side
         from the identical Long→Double conversions, and the
         multiply-add runs in codegen in the same order.  Bucket
         boundaries only steer which rows reach the final pass — the
         bracket VALUES come from exact integer ranks, so neither
         boundary rounding nor the off-by-an-octave a 1-ulp ``log2``
         can produce may change a result bit.  Bit-equality vs the
         builtin is pinned by tests/test_round12_opt.py.

    Scale shape: 2 + #refine column-pruned scans, every shuffle bounded
    by #groups × #cols × #occupied buckets, driver state likewise, and
    no checkpoint / cache of anything input-sized.  ``specs`` is a list
    of ``(value_col, fracs, out_col)``; the output has one row per group
    present in ``df`` (groups whose values are all NULL yield NULL, and an
    empty ``fracs`` yields NULL for every group, like the builtin) and
    one ``array<double>`` column per spec.  EAGER:
    collects the bounded histogram rows at construction time (the
    grand_totals discipline) — group cardinality must be bounded,
    exactly as the builtin's own per-group final buffers already
    require.  NULL group keys are rejected (create_map literals cannot
    key on NULL); ±0.0 values follow Spark SQL grouping normalization
    rather than the builtin's raw-key map, which only diverges on data
    containing both -0.0 and +0.0.
    """
    import math

    from pyspark.sql import Window

    ncols = len(specs)
    if group_col is not None:
        sel = df.select(F.col(group_col).alias("__g"), *[
            F.col(c).alias(f"__v{i}") for i, (c, _, _) in enumerate(specs)
        ])
    else:
        sel = df.select(F.lit(0).alias("__g"), *[
            F.col(c).alias(f"__v{i}") for i, (c, _, _) in enumerate(specs)
        ])
    # melt: one scan feeds every requested column's histogram
    melted = sel.select(
        "__g",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("__wc"),
                    F.col(f"__v{i}").cast("double").alias("__v"),
                )
                for i in range(len(specs))
            ])
        ).alias("__e"),
    ).select("__g", F.col("__e.__wc").alias("__wc"), F.col("__e.__v").alias("__v"))

    # ---- fixed order-preserving double → bucket map (sign-mirrored
    # octave × 16 mantissa slices).  MAG ≤ (1075+1024)·16; buckets:
    #   -NULLB (null marker, kept only for group presence)
    #   -INFB < -mag-1 < 0 (±0.0) < mag+1 < INFB < NANB (NaN is Spark's
    #   largest double).  A 1-ulp-low log2 at an octave boundary only
    #   shifts the value into the adjacent lower slice — the map stays
    #   non-decreasing, which is all correctness needs.
    MSUB = 16
    INFB = (1075 + 1025) * MSUB + 2
    NANB = INFB + 1
    NULLB = -(NANB + 1)
    KB = 2 * NANB + 3  # bucket values span (-NANB-1, NANB]

    def _bucket(vcol: F.Column) -> F.Column:
        av = F.abs(vcol)
        e = F.floor(F.log2(av))
        m = F.floor(
            (av * F.pow(F.lit(2.0), (-e).cast("double")) - F.lit(1.0))
            * F.lit(float(MSUB))
        )
        m = F.greatest(
            F.lit(0).cast("long"), F.least(m, F.lit(MSUB - 1).cast("long"))
        )
        mag = (
            F.greatest((e + F.lit(1075)).cast("long"), F.lit(0).cast("long"))
            * MSUB + m
        )
        return (
            F.when(vcol.isNull(), F.lit(NULLB).cast("long"))
            .when(F.isnan(vcol), F.lit(NANB).cast("long"))
            .when(vcol == F.lit(float("inf")), F.lit(INFB).cast("long"))
            .when(vcol == F.lit(float("-inf")), F.lit(-INFB).cast("long"))
            .when(vcol == F.lit(0.0), F.lit(0).cast("long"))
            .when(vcol > 0, mag + 1)
            .otherwise(-(mag + 1))
        )

    fixed_b = _bucket(F.col("__v"))

    def _fixed_bounds(b: int) -> tuple[float, float]:
        """Approximate [lo, hi] of a fixed bucket — only steers the
        refinement sub-map (clamped), never the resolved values."""
        if b == 0:
            return (0.0, 0.0)
        neg, magv = b < 0, abs(b) - 1
        if magv >= INFB - 1:
            return (0.0, 0.0)  # ±Inf / NaN buckets: single value, no split
        ex, sl = magv // MSUB - 1075, magv % MSUB
        lo = math.ldexp(1.0 + sl / MSUB, ex)
        hi = math.ldexp(1.0 + (sl + 1) / MSUB, ex)
        return (-hi, -lo) if neg else (lo, hi)

    # ---- pass 1: the fixed histogram (the ONLY unfiltered pass).
    # Grouped on the direct numeric (wc·KB + bucket) key per column —
    # no struct melt on this pass, just an explode of ncols longs.
    wbs = [
        F.lit(i * KB).cast("long")
        + _bucket(F.col(f"__v{i}").cast("double"))
        + F.lit(NANB + 1).cast("long")
        for i in range(ncols)
    ]
    hist1 = (
        sel.select("__g", F.explode(F.array(*wbs)).alias("__wb"))
        .groupBy("__g", "__wb")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .collect()
    )
    if any(r["__g"] is None for r in hist1):
        raise ValueError(
            "distributed_exact_percentiles: NULL group keys unsupported"
        )
    if not hist1 and group_col is None:
        # the ungrouped form emits exactly one row even on empty input,
        # like a global agg
        return df.sparkSession.range(1).select(*[
            F.lit(None).cast("array<double>").alias(out_col)
            for (_, _, out_col) in specs
        ])

    groups: list = []
    seen: set = set()
    b1: dict[tuple, dict[int, int]] = {}  # (g, wc) -> bucket -> count
    for r in hist1:
        if r["__g"] not in seen:
            seen.add(r["__g"])
            groups.append(r["__g"])
        wc, b = divmod(int(r["__wb"]), KB)
        b -= NANB + 1
        if b != NULLB:
            b1.setdefault((r["__g"], wc), {})[b] = int(r["__cnt"])
    gid = {g: i for i, g in enumerate(groups)}
    n_gw = {gw: sum(bs.values()) for gw, bs in b1.items()}

    def _imap(d: dict, vcast: str) -> F.Column | None:
        """int64-keyed literal map (None for empty — an argless
        create_map() types its keys VOID and fails analysis)."""
        if not d:
            return None
        return F.create_map(*[
            x
            for k, v in d.items()
            for x in (F.lit(k).cast("long"), F.lit(v).cast(vcast))
        ])

    def _lit_map(d: dict, cast: str) -> F.Column:
        return F.create_map(
            *[
                x
                for k, v in d.items()
                for x in (F.lit(k), F.lit(v).cast(cast))
            ]
        )

    # rank targets per (group, column): the integer ranks (1-based) of the
    # two values bracketing every requested fraction
    targets: dict[tuple, list] = {}
    for gw, n in n_gw.items():
        ts: set = set()
        for p in specs[gw[1]][1]:
            pos = float(n - 1) * float(p)
            ts.add(math.floor(pos) + 1)
            ts.add(math.ceil(pos) + 1)
        if ts:
            targets[gw] = sorted(ts)

    if gid:
        gmap = _lit_map(gid, "long")

    # refinement item keys: key1 = (gid·ncols + wc)·KB + (b + NANB + 1),
    # then key_{r+1} = key_r·n_buckets + sub-bucket — membership at any
    # depth is recomputable in codegen from per-round (lo, scale) maps
    round_maps: list[tuple[dict, dict]] = []

    def key_expr(depth: int) -> F.Column:
        k = (
            gmap[F.col("__g")] * F.lit(ncols).cast("long") + F.col("__wc")
        ) * KB + (fixed_b + F.lit(NANB + 1).cast("long"))
        for lo_m, sc_m in round_maps[:depth]:
            lo_l = _imap(lo_m, "double")[k]
            sc_l = _imap(sc_m, "double")[k]
            idx = F.floor((F.col("__v") - lo_l) * sc_l)
            idx = F.greatest(
                F.lit(0).cast("long"),
                F.least(idx, F.lit(n_buckets - 1).cast("long")),
            )
            idx = F.when(
                F.isnan(F.col("__v")), F.lit(n_buckets - 1).cast("long")
            ).otherwise(idx)
            k = k * n_buckets + idx
        return k

    def _scale(width: float) -> float:
        if width > 0 and math.isfinite(width):
            return float(n_buckets) / width
        return 0.0  # unsplittable segment: one bucket

    # walk the fixed histogram: group each (group, column)'s targets by
    # the bucket containing them; fat splittable buckets become
    # refinement items, the rest resolve directly
    items = []  # active segments: (key, g, wc, lo, width, before, targets)
    finals = []  # resolved buckets: (key, depth, g, wc, before, cnt)
    for gw, ts in targets.items():
        bs = b1[gw]
        blist = sorted(bs)
        cum_before: dict[int, int] = {}
        acc = 0
        for b in blist:
            cum_before[b] = acc
            acc += bs[b]
        by_bucket: dict[int, list] = {}
        bi = 0
        for t in ts:
            while bi < len(blist) and (
                cum_before[blist[bi]] + bs[blist[bi]] < t
            ):
                bi += 1
            by_bucket.setdefault(blist[bi], []).append(t)
        key0 = gid[gw[0]] * ncols + gw[1]
        for b, bts in by_bucket.items():
            key1 = key0 * KB + (b + NANB + 1)
            lo, hi = _fixed_bounds(b)
            if max_refine >= 1 and bs[b] > refine_cap and hi > lo:
                items.append({
                    "key": key1, "g": gw[0], "wc": gw[1],
                    "lo": lo, "width": hi - lo,
                    "before": cum_before[b], "targets": bts,
                })
            else:
                finals.append({
                    "key": key1, "depth": 0, "g": gw[0], "wc": gw[1],
                    "before": cum_before[b], "cnt": bs[b],
                })

    # ---- refinement rounds (rare: only buckets over refine_cap) ----
    depth = 0
    while items:
        depth += 1
        lo_m = {it["key"]: it["lo"] for it in items}
        sc_m = {it["key"]: _scale(it["width"]) for it in items}
        round_maps.append((lo_m, sc_m))
        active = _imap({it["key"]: 1 for it in items}, "int")
        hist = (
            melted.where(
                F.col("__v").isNotNull()
                & active[key_expr(depth - 1)].isNotNull()
            )
            .groupBy(key_expr(depth).alias("__k"))
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .collect()
        )
        buckets: dict[int, dict[int, int]] = {}
        for r in hist:
            k = int(r["__k"])
            buckets.setdefault(k // n_buckets, {})[k % n_buckets] = int(
                r["__cnt"]
            )
        nxt = []
        for it in items:
            bs = buckets.get(it["key"], {})
            blist = sorted(bs)
            cum_before = {}
            acc = 0
            for b in blist:
                cum_before[b] = acc
                acc += bs[b]
            by_bucket = {}
            bi = 0
            for t in it["targets"]:
                t_local = t - it["before"]
                while bi < len(blist) and (
                    cum_before[blist[bi]] + bs[blist[bi]] < t_local
                ):
                    bi += 1
                by_bucket.setdefault(blist[bi], []).append(t)
            sub_w = it["width"] / n_buckets if _scale(it["width"]) else 0.0
            for b, bts in by_bucket.items():
                gb = it["before"] + cum_before[b]
                sub_lo = it["lo"] + b * sub_w
                sub_hi = it["lo"] + (b + 1) * sub_w
                if (
                    depth < max_refine
                    and bs[b] > refine_cap
                    and sub_hi > sub_lo
                ):
                    nxt.append({
                        "key": it["key"] * n_buckets + b,
                        "g": it["g"], "wc": it["wc"],
                        "lo": sub_lo, "width": sub_hi - sub_lo,
                        "before": gb, "targets": bts,
                    })
                else:
                    finals.append({
                        "key": it["key"] * n_buckets + b, "depth": depth,
                        "g": it["g"], "wc": it["wc"],
                        "before": gb, "cnt": bs[b],
                    })
        items = nxt

    # rank-restoring offset per final bucket: the final window below
    # numbers ALL of a group's surviving rows in (column, value) order,
    # so a row's exact in-(group, column) rank = row_number − (surviving
    # rows of earlier columns in this group) + (dropped rows of this
    # column ordered before its bucket) — both per-bucket constants the
    # driver folds into one literal map
    miss: dict[int, dict[int, int]] = {}
    byg: dict = {}
    for fb in finals:
        byg.setdefault(fb["g"], {}).setdefault(fb["wc"], []).append(fb)
    for g, bywc in byg.items():
        surv_before_wc = 0
        for wc in sorted(bywc):
            fbs = bywc[wc]
            fbs.sort(key=lambda fb: fb["before"])
            kept = 0
            for fb in fbs:
                miss.setdefault(fb["depth"], {})[fb["key"]] = (
                    fb["before"] - kept - surv_before_wc
                )
                kept += fb["cnt"]
            surv_before_wc += kept
    miss_exprs = [
        _imap(m_, "long")[key_expr(d)] for d, m_ in sorted(miss.items())
    ]
    if miss_exprs:
        miss_col = (
            F.coalesce(*miss_exprs) if len(miss_exprs) > 1 else miss_exprs[0]
        )
    else:
        miss_col = F.lit(None).cast("long")

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
    # rows — bounded by #cols × #targets × refine_cap — and a sort
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

    gcol = F.col("__g")
    cig = F.col("cum___cnt")  # already the exact in-group rank
    mins, val_exprs = [], []
    for i, (_, fracs, out_col) in enumerate(specs):
        rows_i = [
            (g, n_gw[(g, i)]) for g in groups if n_gw.get((g, i), 0) > 0
        ]
        elems = []
        for j, p in enumerate(fracs):
            lo_r, hi_r, c_lo, c_hi, interp = {}, {}, {}, {}, {}
            for g, n in rows_i:
                pos = float(n - 1) * float(p)
                lo, hi = math.floor(pos), math.ceil(pos)
                lo_r[g] = lo + 1
                hi_r[g] = hi + 1
                interp[g] = 1 if hi != lo else 0
                c_lo[g] = float(hi) - pos
                c_hi[g] = pos - float(lo)
            lo_v = F.col(f"__lo_{i}_{j}")
            hi_v = F.col(f"__hi_{i}_{j}")
            if rows_i:
                mins.append(
                    F.min(
                        F.when(
                            (F.col("__wc") == i)
                            & (cig >= _lit_map(lo_r, "long")[gcol]),
                            F.col("__v"),
                        )
                    ).alias(f"__lo_{i}_{j}")
                )
                mins.append(
                    F.min(
                        F.when(
                            (F.col("__wc") == i)
                            & (cig >= _lit_map(hi_r, "long")[gcol]),
                            F.col("__v"),
                        )
                    ).alias(f"__hi_{i}_{j}")
                )
                elems.append(
                    F.when(_lit_map(interp, "int")[gcol] == 0, lo_v)
                    .when(lo_v == hi_v, lo_v)
                    .otherwise(
                        _lit_map(c_lo, "double")[gcol] * lo_v
                        + _lit_map(c_hi, "double")[gcol] * hi_v
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
            present = _lit_map({g: 1 for g, _ in rows_i}, "int")
            val_exprs.append(
                F.when(present[gcol] == 1, F.array(*elems))
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
    targeted = {g for g, _ in targets}
    absent = [g for g in groups if g not in targeted]
    if absent:
        from pyspark.sql.types import StructField, StructType

        g_field = StructField("__g", sel.schema[0].dataType)
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
