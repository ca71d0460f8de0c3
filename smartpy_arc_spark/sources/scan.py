"""Table scan — the engine's equivalent of the reference's scans.

Reference semantics re-implemented natively (see SURVEY.md §2.1):
  * ``arc_to_pandas``  (arc_utils.py:614-747)  — legacy scan: column subset +
    rename, where-clause pushdown, null-sentinel fill, datetime sanitize,
    optional index+sort.
  * ``arc_to_polars`` / ``arc_to_pandas_a`` (arc_utils.py:956-1051) — Arrow
    scan: column-pruned + predicate-pushed columnar extraction with
    case-insensitive column resolution where the *requested* casing wins in
    the output (arc_utils.py:1036-1049).

Spark-first translation: one lazy plan
``read → where → select(+rename) → na-policy → sort`` so Catalyst performs
projection pruning and predicate pushdown into the parquet reader (the same
optimizations the reference hand-delegates to the geodatabase engine).
`.explain("formatted")` on a scan shows ``PushedFilters`` and a pruned
``ReadSchema`` — verified in tests/test_scan.py.

Parquet schemas are resolved on the driver (``parquet_schema``): Spark's
non-merging inference reads one footer — the first data file in full-path
order — in a Spark job; the resolver reads that same footer through py4j
with Spark's own reader and converter and hands the schema to the reader,
so building a DataFrame runs no job.  It declines, and Spark infers as
before with its own errors, for a non-local or glob path, a path with no
data file, a ``_metadata``/``_common_metadata`` summary file, a session
with ``spark.sql.parquet.mergeSchema`` on, or a footer read that raises
(the last with a warning).  Every package read of a parquet path goes
through ``read_parquet``.
"""

from __future__ import annotations

import json
import os
import re
import warnings
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartpy_arc_spark.session import jclass
from smartpy_arc_spark.sqltext import literal, project

# Null sentinels of the legacy scan (reference defaults,
# arc_utils.py:614-615: str_fill='', num_fill=-1, date_fill='1678-01-01').
DEFAULT_STR_FILL = ""
DEFAULT_NUM_FILL = -1
DEFAULT_DATE_FILL = "1678-01-01"

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_DATE_TYPES = (T.TimestampType, T.TimestampNTZType, T.DateType)

# a Hadoop glob character or a URI scheme: paths Spark expands or reads
# through a non-local filesystem, left to Spark's own inference
_NOT_PLAIN_PATH = re.compile(r"[*?\[\]{}\\:]")

_SPARK_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def _hidden(name: str) -> bool:
    """Spark's leaf-listing filter (``shouldFilterOutPathName``): names
    starting with ``_`` or ``.`` are skipped, except ``_x=…`` partition
    directories."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _inference_file(paths: Sequence[str]) -> str | None:
    """The file Spark's non-merging parquet inference reads for ``paths``:
    the first leaf data file in full-path order.  None when the paths are
    not plain local paths, hold no data file, or hold a summary file
    (which Spark would read instead)."""
    leaves = []
    for p in paths:
        if not isinstance(p, str) or _NOT_PLAIN_PATH.search(p) or not os.path.exists(p):
            return None
        p = os.path.abspath(p)
        if os.path.isfile(p):
            if _hidden(os.path.basename(p)):
                return None
            leaves.append(p)
            continue
        for root, dirs, files in os.walk(p, followlinks=True):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for f in files:
                if f.startswith(("_metadata", "_common_metadata")):
                    return None
                if not _hidden(f):
                    leaves.append(os.path.join(root, f))
    return min(leaves, default=None)


def parquet_schema(spark: SparkSession, *paths: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(*paths)`` would infer, read on the
    driver from the footer Spark's inference job reads, or None where
    Spark must infer (see the module docstring).

    The footer is read and converted by the calls Spark's inference makes
    on an executor (``ParquetFileFormat.mergeSchemasInParallel``), so the
    result follows the Spark row-metadata JSON, field metadata,
    ``isAdjustedToUTC`` and ``nanosAsLong`` by construction.  Array and
    map element nullability may come back stricter than inferred; the
    reader's ``asNullable`` evens that out."""
    leaf = _inference_file(paths)
    if leaf is None:
        return None
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    conf = spark._jsparkSession.sessionState().conf()
    if (
        not hconf.get("fs.defaultFS", "file:///").startswith("file:")
        or conf.isParquetSchemaMergingEnabled()
    ):
        return None

    conv = jclass(spark, _SPARK_PARQUET + "ParquetToSparkSchemaConverter")
    try:
        jpath = jclass(spark, "org.apache.hadoop.fs.Path")(leaf)
        meta = jclass(spark, _SPARK_PARQUET + "ParquetFooterReader").readFooter(
            jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile")
            .fromPath(jpath, hconf),
            jclass(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter")
            .SKIP_ROW_GROUPS,
        )
        # the converter exactly as inference builds it: five flags from the
        # session conf, the other three at their constructor defaults
        converter = conv(
            conf.isParquetBinaryAsString(),
            conf.isParquetINT96AsTimestamp(),
            getattr(conv, "$lessinit$greater$default$3")(),
            conf.parquetInferTimestampNTZEnabled(),
            conf.legacyParquetNanosAsLong(),
            getattr(conv, "$lessinit$greater$default$6")(),
            getattr(conv, "$lessinit$greater$default$7")(),
            conf.parquetReaderRespectUnknownTypeAnnotation(),
        )
        schema = jclass(spark, _SPARK_PARQUET + "ParquetFileFormat").readSchemaFromFooter(
            jclass(spark, "org.apache.parquet.hadoop.Footer")(jpath, meta), converter
        )
        return T.StructType.fromJson(json.loads(schema.json()))
    except Exception as exc:
        java = getattr(exc, "java_exception", None)
        kind = java.getClass().getName() if java is not None else type(exc).__name__
        warnings.warn(
            f"parquet_schema: footer of {leaf} unreadable ({kind}); "
            "falling back to Spark schema inference",
            stacklevel=2,
        )
        return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema from
    :func:`parquet_schema` when it resolves: no inference job."""
    reader = spark.read
    schema = parquet_schema(spark, *paths)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def _resolve_path(workspace: str, name: str | None, fmt: str = "parquet") -> str:
    """``workspace + '//' + class_name`` addressing (arc_utils.py:661-662)
    mapped to a file path: workspace dir + table name + format extension."""
    if name is None:
        return workspace
    if "." in os.path.basename(name):
        return os.path.join(workspace, name)
    return os.path.join(workspace, f"{name}.{fmt}")


def _case_insensitive_resolve(
    actual: Sequence[str], requested: Sequence[str]
) -> list[tuple[str, str]]:
    """Match requested names case-insensitively against actual columns; the
    requested casing wins in the output (arc_utils.py:1036-1049).

    Returns [(actual_name, output_name)]. Raises KeyError on a miss, like the
    underlying engine would.
    """
    lower_to_actual = {c.lower(): c for c in actual}
    out = []
    for req in requested:
        hit = lower_to_actual.get(req.lower())
        if hit is None:
            raise KeyError(f"column {req!r} not found (have {list(actual)})")
        out.append((hit, req))
    return out


def normalize_event_time(df: DataFrame, col: str):
    """Column expression normalizing an event-time column to a zoned
    µs TIMESTAMP, whatever its physical read type:

      * ``long``          — legacy nanos-as-long (parquet TIMESTAMP(NANOS)
                            under ``spark.sql.legacy.parquet.nanosAsLong``):
                            integer-div to µs (ns ~1.7e18 exceeds double
                            precision, so never divide as float).
      * ``timestamp_ntz`` — µs wall-clock with no zone: reinterpret in the
                            session zone (UTC everywhere in this engine).
      * ``timestamp``     — already the target type; pass through.

    Keeping this dtype-driven means the same query code works against data
    written with either timestamp encoding — the encoding changed once
    already between test-data generations, and at 100 TB a lake realistically
    contains a mix of both vintages.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.expr(f"timestamp_micros(`{col}` div 1000)")
    if isinstance(dt, T.TimestampNTZType):
        return F.col(col).cast("timestamp")
    return F.col(col)


def scan(
    spark: SparkSession,
    workspace: str,
    class_name: str | None = None,
    *,
    flds: Sequence[str] | Mapping[str, str] | None = None,
    where: str | None = None,
    index_fld: str | None = None,
    fill_nulls: bool = False,
    str_fill: str = DEFAULT_STR_FILL,
    num_fill: float = DEFAULT_NUM_FILL,
    date_fill: str = DEFAULT_DATE_FILL,
    fmt: str = "parquet",
    schema: str | T.StructType | None = None,
    drop_geometry: bool = True,
    spatial: bool = False,
    geom_col: str | None = None,
    nanos_ts_cols: Sequence[str] = (),
) -> DataFrame:
    """Scan a table into a lazy DataFrame.

    Parameters mirror the reference scans:
      * ``flds``: list → keep those columns (case-insensitive, requested
        casing wins); dict → keep + rename {source: output}.
      * ``where``: SQL predicate string, pushed down by Catalyst.
      * ``index_fld``: sort by this column (the reference's
        ``set_index().sort_index()``, arc_utils.py:734-736).
      * ``fill_nulls``: legacy sentinel fill (C5). Engine default is real
        nulls (False) — the reference's sentinel mode is a compat flag.
      * ``drop_geometry``: geometry-role columns excluded unless explicitly
        requested, matching the Arrow scan default (arc_utils.py:1020-1024).
      * ``spatial=True``: derive the legacy scan's SHAPE@X/SHAPE@Y/
        SHAPE@AREA/SHAPE@LENGTH columns from the geometry column before it
        is dropped (arc_utils.py:692-701); ``geom_col`` overrides the
        role-metadata lookup.
    """
    path = _resolve_path(workspace, class_name, fmt)
    if nanos_ts_cols:
        # Event-time columns may arrive physically as parquet
        # TIMESTAMP(NANOS) (read as long under the legacy conf — Spark has
        # no ns timestamp type), as TIMESTAMP_NTZ (µs, no zone), or as a
        # plain zoned TIMESTAMP, depending on how the file was written.
        # The conf makes the nanos case deterministic; the actual
        # normalization below is driven by the *observed* read dtype, so
        # all three physical encodings land on the same µs TIMESTAMP.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if fmt == "parquet":
        df = read_parquet(spark, path)
    elif fmt == "csv":
        if schema is not None:
            # explicit schema: single pass over the file — inferSchema=True
            # is a SECOND full scan, which at 100 TB doubles the read cost
            df = reader.csv(path, header=True, schema=schema)
        else:
            df = reader.csv(path, header=True, inferSchema=True)
    elif fmt == "json":
        df = reader.json(path, schema=schema) if schema is not None else reader.json(path)
    elif fmt == "orc":
        df = reader.orc(path)
    elif fmt == "text":
        # one row per line (whole-file rows via wholetext in opts use case);
        # the raw-corpus ingestion path for the text pipeline operators
        df = reader.text(path)
    elif fmt == "binaryFile":
        # (path, modificationTime, length, content) — the real media
        # ingestion path for the multimodal operators (attach_payload's
        # contract): content is the opaque payload column
        df = reader.format("binaryFile").load(path)
    elif fmt == "dbf":
        # folder-workspace dbf (arc_pandas.py:17-21) via the custom Python
        # data source in sources/dbf.py
        from smartpy_arc_spark.sources.dbf import register_dbf_source

        register_dbf_source(spark)
        df = reader.format("dbf").load(path)
    elif fmt == "avro":
        # Avro Object Container Files via the pure-Python splittable
        # reader in sources/avro.py (the spark-avro SQL datasource jar is
        # not in this distribution)
        from smartpy_arc_spark.sources.avro import register_avro_source

        register_avro_source(spark)
        df = reader.format("avro_py").load(path)
    elif fmt == "xml":
        # Spark 4 built-in XML source (the spark-xml package merged in
        # 4.0): rowTag-delimited records; explicit schema avoids the
        # second inference scan exactly like the csv branch
        xml_reader = reader.format("xml").option("rowTag", "row")
        if schema is not None:
            xml_reader = xml_reader.schema(schema)
        df = xml_reader.load(path)
    elif fmt in ("shp", "shapefile"):
        # folder-workspace shapefile (arc_pandas.py:17-21): .dbf attributes
        # + .shp geometry as WKB, CRS from the sibling .prj
        from smartpy_arc_spark.meta import tag_geometry
        from smartpy_arc_spark.sources.shapefile import (
            _shp_paths,
            read_prj,
            register_shapefile_source,
        )

        register_shapefile_source(spark)
        df = reader.format("shapefile").load(path)
        paths = _shp_paths(path)
        crs = read_prj(paths[0]) if paths else None
        df = tag_geometry(df, "geometry", crs=crs)
    else:
        raise ValueError(f"unsupported format {fmt!r}")

    for c in nanos_ts_cols:
        df = df.withColumn(c, normalize_event_time(df, c))

    # Filter first, against source column names — reference where-clauses
    # reference source fields (arc_utils.py:704-708).
    if where:
        df = df.where(where)

    if spatial:
        from smartpy_arc_spark.geometry import add_geometry_derived
        from smartpy_arc_spark.meta import ROLE_GEOMETRY, field_role

        g = geom_col or next(
            (f.name for f in df.schema.fields if field_role(f) == ROLE_GEOMETRY),
            "geometry" if "geometry" in df.columns else None,
        )
        if g is not None:
            df = add_geometry_derived(df, geom_col=g)

    # Projection + rename with case-insensitive resolution.
    if flds is not None:
        if isinstance(flds, Mapping):
            resolved = _case_insensitive_resolve(df.columns, list(flds))
            pairs = [(actual, flds[req]) for (actual, req) in resolved]
        else:
            pairs = _case_insensitive_resolve(df.columns, list(flds))
        if spatial:
            # derived geometry columns ride along regardless of the field
            # subset, like the reference's post-projection append
            # (arc_utils.py:692-701)
            requested = {out for _, out in pairs}
            pairs += [
                (c, c) for c in df.columns
                if c.startswith("SHAPE@") and c not in requested
            ]
        df = df.select([F.col(src).alias(out) for src, out in pairs])
    elif drop_geometry:
        from smartpy_arc_spark.meta import ROLE_GEOMETRY, field_role

        geom_cols = [f.name for f in df.schema.fields if field_role(f) == ROLE_GEOMETRY]
        if geom_cols:
            df = df.drop(*geom_cols)

    if fill_nulls:
        df = _fill_sentinels(df, str_fill=str_fill, num_fill=num_fill, date_fill=date_fill)

    if index_fld:
        # the sort key may be given by its SOURCE name even when flds renamed
        # it (the reference sets the index before its own rename); resolve
        # through the rename map, then case-insensitively
        if index_fld not in df.columns:
            if isinstance(flds, Mapping) and index_fld in flds:
                index_fld = flds[index_fld]
            else:
                lower_map = {c.lower(): c for c in df.columns}
                index_fld = lower_map.get(index_fld.lower(), index_fld)
        df = df.orderBy(index_fld)
    return df


def _fill_sentinels(
    df: DataFrame,
    *,
    str_fill: str = DEFAULT_STR_FILL,
    num_fill: float = DEFAULT_NUM_FILL,
    date_fill: str = DEFAULT_DATE_FILL,
) -> DataFrame:
    """Null → sentinel per type class (C5, arc_utils.py:664-673, :739-745):
    ``coalesce(c, <sentinel cast to c's type>)``, built as one projection
    from SQL text (``sqltext.project``)."""

    def fill(col: str, field: T.StructField) -> str | None:
        if isinstance(field.dataType, T.StringType):
            return f"coalesce({col}, {literal(str_fill)})"
        if isinstance(field.dataType, _NUMERIC_TYPES):
            return f"coalesce({col}, {literal(num_fill, field.dataType)})"
        if isinstance(field.dataType, _DATE_TYPES):
            return f"coalesce({col}, {literal(date_fill, field.dataType)})"
        return None

    return project(df, fill)


def scan_pandas(spark: SparkSession, workspace: str, class_name: str | None = None, **kw):
    """``arc_to_pandas_a`` equivalent (arc_utils.py:956-988): scan then
    Arrow-backed conversion to pandas. Only for bounded results — the 100 TB
    path never materializes to the driver."""
    # bounded: by the caller, a user-facing pandas conversion
    return scan(spark, workspace, class_name, **kw).toPandas()
