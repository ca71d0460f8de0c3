"""Sinks — K1/K2/K3 (SURVEY.md §2.2).

Reference behaviors re-expressed on ``df.write``:
  * ``pandas_to_arc`` (arc_utils.py:815-898): optional index→column, column
    subset, write-side type coercions (arc_utils.py:786-805), drop-if-exists
    on overwrite (arc_utils.py:870-872), XY→point path (arc_utils.py:877-879),
    optional read-back (arc_utils.py:883-893).
  * ``polars_to_arc`` (arc_utils.py:1054-1120): geometry column tagged with
    encoding + CRS metadata (arc_utils.py:1104-1109).  Its two latent bugs
    (``geo_col.lower()`` on None at :1105; ``arcpy.managment`` typo at :1120)
    are not reproduced.
  * ``copy_feats`` (arc_utils.py:477-519): CTAS = filter + projection/rename
    (+ varchar resize) into a new table.

Writes default to parquet paths; ``saveAsTable`` when ``workspace`` is a
catalog database.  At scale the caller controls layout via ``partition_by``
(directory partitioning → partition pruning on later scans).
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartpy_arc_spark.functions.scalar import (
    COMPAT_CAST_GUARD,
    _guarded_compat_cast,
    compat_cast_for_write,
)
from smartpy_arc_spark.meta import tag_geometry
from smartpy_arc_spark.session import ensure_worker_imports, jclass, scoped_conf
from smartpy_arc_spark.sources.scan import read_parquet


def _out_path(workspace: str, name: str, fmt: str = "parquet") -> str:
    return os.path.join(workspace, f"{name}.{fmt}")


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop file system Spark's
    writer checks (a driver-side call, no job)."""
    jpath = jclass(spark, "org.apache.hadoop.fs.Path")(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(jpath)


def write_table(
    df: DataFrame,
    workspace: str,
    output_table: str,
    *,
    overwrite: bool = False,
    cols: Sequence[str] | None = None,
    compat_casts: bool = False,
    x_col: str | None = None,
    y_col: str | None = None,
    srs: str | None = None,
    partition_by: Sequence[str] | None = None,
    get_df_back: bool = False,
    fmt: str = "parquet",
) -> DataFrame | str:
    """K1 ``pandas_to_arc`` equivalent.

    * ``overwrite=False`` → errorifexists, matching the reference's default
      failure when the target exists; True → drop-and-replace
      (arc_utils.py:870-872).
    * ``compat_casts=True`` applies the reference's write-side coercions
      (bool→int32, in-range int64→int32 else float64; §1.2) — opt-in because
      the int downcast is lossy by design.  The write casts every long
      column to int32 under a range guard inside its own job, so input
      that fits is computed once.  A value outside ±2147483647 trips the
      guard and aborts the write; the write then runs again with the types
      ``compat_cast_for_write`` picks (float64 for that column).  The
      guard can trip in the job, after Spark's exists check, which may
      leave the target directory behind, or while Spark optimizes the
      write (a projection over a small local frame, such as one made from
      pandas, is folded then), before that check.  So the second attempt
      overwrites only when ``overwrite=True`` or the target did not exist
      before the first; otherwise it fails as an existing target does.
      That fallback costs one failed job plus the range aggregate plus the
      second write, and the aborted tasks log ERROR lines; on a cluster
      the failing task is first retried ``spark.task.maxFailures`` times.
      Any other error propagates after one attempt.  With
      ``overwrite=True`` the old target is deleted as the write job
      starts, as the reference drops it before writing, so an error in
      the input (or in the fallback) can leave the target lost.
    * ``x_col``/``y_col`` tag the output as a point feature class: the pair is
      kept and a geometry-role metadata tag records the point-from-XY
      encoding + CRS, mirroring NumPyArrayToFeatureClass(arr, path, [x, y],
      srs) (arc_utils.py:877-879).
    * ``get_df_back=True`` returns a DataFrame reading what was written (the
      reference's read-back cursor, arc_utils.py:883-893).
    * ``fmt`` is parquet, orc or csv; any other value raises ``ValueError``
      before a Spark job runs.
    """
    if fmt not in ("parquet", "orc", "csv"):
        raise ValueError(f"unsupported format {fmt!r}")
    path = _out_path(workspace, output_table, fmt)
    selected = df if cols is None else df.select(list(cols))

    def save(out: DataFrame, mode: str) -> None:
        if x_col and y_col:
            out = tag_geometry(out, x_col, crs=srs, encoding="POINT_XY")
        writer = out.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if fmt == "csv":
            writer = writer.option("header", True)
        writer.format(fmt).save(path)

    mode = "overwrite" if overwrite else "errorifexists"
    if not compat_casts:
        save(selected, mode)
    else:
        # the second attempt may replace only what the first could write
        retry_mode = (
            "errorifexists"
            if not overwrite and _path_exists(df.sparkSession, path)
            else "overwrite"
        )
        try:
            save(_guarded_compat_cast(selected), mode)
        except (PySparkException, Py4JJavaError) as e:
            if COMPAT_CAST_GUARD not in str(e):
                raise
            save(compat_cast_for_write(selected), retry_mode)

    if get_df_back:
        spark = df.sparkSession
        if fmt == "parquet":
            return read_parquet(spark, path)
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", True).option("inferSchema", True)
        return reader.load(path)
    return path


def compact_files(
    spark: SparkSession,
    path: str,
    *,
    target_mb: int = 256,
    fmt: str = "parquet",
) -> str:
    """Small-file compaction: rewrite a dataset into files of roughly
    ``target_mb`` each.  Small-file explosion is THE operational failure
    mode of long-running pipelines at 100 TB (every file is a task + a
    namenode entry); periodic compaction keeps scans coalesced.

    File count is derived from the dataset's on-disk bytes (driver-side
    listing only — no data read), then a single ``repartition`` rewrite
    into a temp dir swapped over the original."""
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(total // (target_mb << 20), 1)
    if fmt == "parquet":
        df = read_parquet(spark, path)
    else:
        df = spark.read.format(fmt).load(path)
    tmp = path.rstrip("/") + ".compact.tmp"
    df.repartition(int(n_files)).write.mode("overwrite").format(fmt).save(tmp)
    bak = path.rstrip("/") + ".compact.bak"
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return path


def write_shapefile_dataset(
    df: DataFrame,
    folder: str,
    *,
    geom_col: str = "geometry",
    crs_wkt: str | None = None,
) -> str:
    """Folder-workspace shapefile sink (the write half of
    arc_pandas.py:17-21): one shapefile PER PARTITION, written on the
    executors — a single .shp has no parallel append, so a folder of
    part-shapefiles is the scalable layout, and it is exactly the layout
    the shapefile reader parallelizes over (one input partition per file).

    The geometry column must be WKB; attribute columns map to dBASE types
    (string→C, int→N, float→N with decimals, bool→L, date→D).
    """
    from pyspark import TaskContext

    os.makedirs(folder, exist_ok=True)
    attr_fields: list[tuple[str, str, int, int]] = []
    attr_names: list[str] = []
    for f in df.schema.fields:
        if f.name == geom_col:
            continue
        dt = f.dataType
        if isinstance(dt, T.StringType):
            spec = (f.name, "C", 64, 0)
        elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            spec = (f.name, "N", 19, 0)
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            spec = (f.name, "N", 24, 10)
        elif isinstance(dt, T.BooleanType):
            spec = (f.name, "L", 1, 0)
        elif isinstance(dt, T.DateType):
            spec = (f.name, "D", 8, 0)
        else:
            raise ValueError(
                f"column {f.name!r}: {dt.simpleString()} has no dBASE mapping"
            )
        attr_fields.append(spec)
        attr_names.append(f.name)

    def _write_partition(rows) -> None:
        from smartpy_arc_spark.sources.shapefile import write_shapefile

        pid = TaskContext.get().partitionId()
        attrs, wkbs = [], []
        for row in rows:
            attrs.append(tuple(row[n] for n in attr_names))
            g = row[geom_col]
            wkbs.append(bytes(g) if g is not None else None)
        if attrs:
            write_shapefile(
                os.path.join(folder, f"part-{pid:05d}.shp"),
                attrs, attr_fields, wkbs, crs_wkt=crs_wkt,
            )

    ensure_worker_imports(df.sparkSession)
    df.foreachPartition(_write_partition)
    return folder


def copy_feats(
    spark_or_df: SparkSession | DataFrame,
    out_work: str,
    out_name: str,
    *,
    source: str | None = None,
    flds: Sequence[str] | Mapping[str, str] | None = None,
    where: str | None = None,
    fld_lens: Mapping[str, int] | None = None,
    overwrite: bool = True,
) -> str:
    """K3 ``copy_feats`` equivalent (arc_utils.py:477-519): CTAS with filter +
    field-map projection/rename (+ varchar resize via truncation-free cast —
    lengths are recorded as metadata, values are never truncated)."""
    if isinstance(spark_or_df, DataFrame):
        df = spark_or_df
    else:
        df = read_parquet(spark_or_df, source)
    if where:
        df = df.where(where)
    if flds is not None:
        if isinstance(flds, Mapping):
            df = df.select([F.col(s).alias(o) for s, o in flds.items()])
        else:
            df = df.select(list(flds))
    if fld_lens:
        from smartpy_arc_spark.meta import tag_varchar

        for c, n in fld_lens.items():
            if c in df.columns:
                df = tag_varchar(df, c, n)
    return write_table(df, out_work, out_name, overwrite=overwrite)


def write_partitioned(
    df,
    path: str,
    partition_cols: list[str],
    *,
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Hive-style partitioned parquet write with DYNAMIC partition
    overwrite: only the partitions present in ``df`` are replaced; sibling
    partitions survive untouched.  This is the incremental-refresh
    primitive for a 100 TB partitioned table — re-materialize one day/one
    language without rewriting (or even listing) the rest.

    Static overwrite (``dynamic=False``) truncates the whole table root —
    the default Spark behavior this helper exists to fence off.
    """
    with scoped_conf(df.sparkSession, {
        "spark.sql.sources.partitionOverwriteMode": "DYNAMIC" if dynamic else "STATIC",
    }):
        df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
