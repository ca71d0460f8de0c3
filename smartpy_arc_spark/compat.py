"""Reference-API compatibility shim.

The reference ships ``arc_pandas.py`` as a back-compat star-import of
``arc_utils`` (arc_pandas.py:25); this module plays the same role for
migrating users: every public reference callable under its original name
and calling convention, delegating to the Spark-native operators.  A user
of AZMAG/smartpy_arc can ``from smartpy_arc_spark.compat import *`` and run
the same call shapes against parquet workspaces.

Differences from the reference, by design:
  * a ``SparkSession`` (created lazily via :func:`get_spark`) replaces the
    implicit arcpy environment;
  * ``fill_nulls`` defaults to the reference's sentinel behavior here (it
    is the documented contract of ``arc_to_pandas``, arc_utils.py:636-648)
    while the native :func:`smartpy_arc_spark.scan` defaults to real nulls;
  * known reference bugs are not reproduced (``get_map`` raise-on-found,
    pro_utils.py:74-76; ``polars_to_arc`` geo_col None crash,
    arc_utils.py:1105).
"""

from __future__ import annotations

import warnings
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from smartpy_arc_spark.session import get_spark
from smartpy_arc_spark.sources.scan import read_parquet

# context managers keep their reference names
from smartpy_arc_spark.plans.context import (  # noqa: F401
    CheckoutExtension,
    ScratchDir as ScratchGdb,
    TempOverwrite,
    TempQualifiedFields,
    TempWork,
)


def _spark() -> SparkSession:
    return get_spark()


def _frame(data) -> DataFrame:
    """``data`` itself when it is a DataFrame, else the parquet table at
    that path."""
    return data if isinstance(data, DataFrame) else read_parquet(_spark(), data)


def row_count(data) -> int:
    """arc_utils.py:33-39."""
    return _frame(data).count()


def list_flds(data) -> list[str]:
    """arc_utils.py:42-55."""
    return list(_frame(data).columns)


def list_fld_types(data) -> dict:
    """arc_utils.py:58-63 (varchar lengths ride in metadata)."""
    from smartpy_arc_spark.sources.inspect import list_fld_types as _lft

    return _lft(_frame(data))


def get_oid_fld(data):
    """arc_utils.py:67-72."""
    from smartpy_arc_spark.sources.inspect import get_oid_fld as _g

    return _g(_frame(data))


def get_shp_fld(data):
    """arc_utils.py:75-84."""
    from smartpy_arc_spark.sources.inspect import get_shp_fld as _g

    return _g(_frame(data))


def arc_to_pandas(
    workspace: str,
    class_name: str,
    index_fld: str | None = None,
    flds=None,
    spatial: bool = True,
    where: str | None = None,
    fill_nulls: bool = True,
    str_fill: str = "",
    num_fill=-1,
    date_fill: str = "1678-01-01",
):
    """arc_utils.py:614-747 — legacy scan to pandas, sentinel fills on and
    SHAPE@ geometry columns derived when a geometry column exists
    (``spatial=True`` is the reference default, arc_utils.py:692-701)."""
    from smartpy_arc_spark.sources.scan import scan

    df = scan(
        _spark(), workspace, class_name,
        flds=flds, where=where, index_fld=index_fld,
        fill_nulls=fill_nulls, str_fill=str_fill, num_fill=num_fill,
        date_fill=date_fill, spatial=spatial,
    )
    pdf = df.toPandas()  # bounded: by the caller (arc_to_pandas)
    if index_fld:
        # rename may have changed the column's name; resolve post-rename
        name = flds.get(index_fld, index_fld) if isinstance(flds, Mapping) else index_fld
        if name in pdf.columns:
            pdf = pdf.set_index(name).sort_index()
    return pdf


def _split_workspace(data: str) -> tuple[str, str | None]:
    """Split ``workspace//class`` addressing without mangling URI schemes —
    ``s3://bucket/tbl`` has no workspace separator, only a scheme."""
    import re

    parts = re.split(r"(?<!:)//", data)
    if len(parts) == 1:
        return data, None
    return "//".join(parts[:-1]), parts[-1]


def _apply_geometry_encoding(df: DataFrame, encoding: str | None) -> DataFrame:
    """Convert the geometry column to the requested wire encoding
    (arc_utils.py:974-977: ESRISHAPE/ESRIJSON/GEOJSON/WKT/WKB; canonical
    storage is WKB, so WKB/None are no-ops)."""
    if not encoding or encoding.upper() == "WKB":
        return df
    from smartpy_arc_spark.geometry import encode_geometry
    from smartpy_arc_spark.meta import ROLE_GEOMETRY, find_role_column

    geom_col = find_role_column(df, ROLE_GEOMETRY) or (
        "geometry" if "geometry" in df.columns else None
    )
    if geom_col is None:
        return df
    return encode_geometry(df, encoding, geom_col)


def arc_to_pandas_a(data, flds=None, where: str | None = None,
                    geometry_encoding: str | None = None):
    """arc_utils.py:956-988 — Arrow scan to pandas (geometry excluded unless
    an encoding is requested, then delivered in that encoding)."""
    from smartpy_arc_spark.sources.scan import scan

    workspace, class_name = _split_workspace(data)
    df = scan(
        _spark(), workspace, class_name,
        flds=flds, where=where,
        drop_geometry=geometry_encoding is None,
    )
    # bounded: by the caller, a user-facing pandas conversion
    return _apply_geometry_encoding(df, geometry_encoding).toPandas()


def arc_to_spark(data, flds=None, where: str | None = None,
                 geometry_encoding: str | None = None, **kw) -> DataFrame:
    """The modern path (replaces ``arc_to_polars``, arc_utils.py:991-1051):
    a lazy DataFrame instead of an eager polars frame."""
    from smartpy_arc_spark.sources.scan import scan

    workspace, class_name = _split_workspace(data)
    if geometry_encoding is not None:
        kw.setdefault("drop_geometry", False)
    df = scan(_spark(), workspace, class_name, flds=flds, where=where, **kw)
    return _apply_geometry_encoding(df, geometry_encoding)


def arc_to_polars(data, flds=None, where: str | None = None,
                  geometry_encoding: str | None = None, **kw):
    """Reference entry-point name (arc_utils.py:991-1051): an EAGER polars
    DataFrame of the scan. When ``polars`` is importable the reference
    contract is honored exactly (Arrow-native transfer via
    ``DataFrame.toArrow()`` → ``pl.from_arrow``); otherwise this degrades
    to the lazy Spark DataFrame from :func:`arc_to_spark` (the documented
    rename) so the call shape still works in minimal environments."""
    df = arc_to_spark(data, flds=flds, where=where,
                      geometry_encoding=geometry_encoding, **kw)
    try:
        import polars as pl  # optional dependency, absent in the sandbox
    except ImportError:
        return df
    return pl.from_arrow(df.toArrow())


def pandas_to_arc(
    df,
    workspace: str,
    output_table: str,
    keep_index: bool = True,
    cols: Sequence[str] | None = None,
    get_cursor: bool = False,
    overwrite: bool = False,
    x_col: str | None = None,
    y_col: str | None = None,
    srs=None,
):
    """arc_utils.py:815-898 — pandas sink with the reference's write-side
    coercions (bool→int32, in-range int64→int32) applied."""
    import pandas as pd

    from smartpy_arc_spark.sinks.write import write_table

    if isinstance(df, pd.DataFrame):
        if keep_index and df.index.name is not None:
            df = df.reset_index()
        sdf = _spark().createDataFrame(df)
    else:
        sdf = df
    result = write_table(
        sdf, workspace, output_table,
        overwrite=overwrite, cols=cols, compat_casts=True,
        x_col=x_col, y_col=y_col, srs=srs, get_df_back=get_cursor,
    )
    flds = cols if cols is not None else list(sdf.columns)
    return (flds, result if get_cursor else None)


def pandas_to_features(
    df,
    fc,
    pd_id_fld: str,
    arc_id_fld: str,
    out_fc: str,
    keep_common: bool = True,
):
    """arc_utils.py:901-953 — THE enrichment join: join df onto the target
    table by key, materialize with unqualified names.  ``out_fc`` is
    ``workspace//name`` or a plain path prefix."""
    import pandas as pd

    from smartpy_arc_spark.operators.join import enrich_join
    from smartpy_arc_spark.sinks.write import write_table

    spark = _spark()
    target = _frame(fc)
    enrich = spark.createDataFrame(df) if isinstance(df, pd.DataFrame) else df
    joined = enrich_join(
        target, enrich, arc_id_fld, pd_id_fld, keep_common=keep_common
    )
    workspace, _, name = out_fc.rpartition("//")
    if not workspace:
        import os

        workspace, name = os.path.dirname(out_fc), os.path.basename(out_fc)
    return write_table(joined, workspace, name, overwrite=True)


def pandas_join_to_arc(*args, **kwargs):
    """arc_utils.py:1136-1144 — deprecated in the reference, same here."""
    warnings.warn(
        "pandas_join_to_arc is deprecated; use pandas_to_features",
        DeprecationWarning,
        stacklevel=2,
    )
    raise NotImplementedError("deprecated in the reference; use pandas_to_features")


def copy_feats(data, out_work: str, out_fc: str, flds=None,
               where: str | None = None, fld_lens: Mapping | None = None) -> str:
    """arc_utils.py:477-519 — CTAS with field-map rename + varchar lengths."""
    from smartpy_arc_spark.sinks.write import copy_feats as _cf

    if isinstance(data, DataFrame):
        return _cf(data, out_work, out_fc, flds=flds, where=where,
                   fld_lens=fld_lens or {})
    return _cf(_spark(), out_work, out_fc, source=data, flds=flds,
               where=where, fld_lens=fld_lens or {})


def create_layer(layer_name: str, table, flds=None, where: str | None = None,
                 shp_prefix: str | None = None) -> DataFrame:
    """arc_utils.py:422-474 — named lazy view (note the reference's
    (name, table) argument order)."""
    from smartpy_arc_spark.plans.layer import create_layer as _cl

    return _cl(_frame(table), layer_name, flds=flds, where=where, shp_prefix=shp_prefix)


def get_field_map(src, flds, fld_lens: Mapping | None = None):
    """arc_utils.py:387-420 — projection/rename descriptor → list[Column]."""
    from smartpy_arc_spark.plans.layer import field_map

    return field_map(flds, fld_lens or {})


def copy_oids(fc, fld_name: str):
    """arc_utils.py:376-384 — materialize row ids (stable row_number when
    the frame has a deterministic first column order)."""
    from smartpy_arc_spark.functions.scalar import copy_oids as _co

    df = _frame(fc)
    return _co(df, fld_name, order_by=[df.columns[0]])


def add_ap_ratio(data, fld_name: str = "ap_ratio"):
    """arc_utils.py:586-606."""
    from smartpy_arc_spark.functions.scalar import add_ap_ratio as _ap

    return _ap(_frame(data), fld_name)


def get_centroids(polys, out_gdb: str | None = None, out_fc: str | None = None,
                  flds_to_keep=None):
    """arc_utils.py:522-583 — centroid extraction; writes when a target is
    given, else returns the DataFrame."""
    from smartpy_arc_spark.geometry import get_centroids as _gc
    from smartpy_arc_spark.sinks.write import write_table

    df = _frame(polys)
    out = _gc(df, flds_to_keep=flds_to_keep)
    if out_gdb and out_fc:
        return write_table(out, out_gdb, out_fc, overwrite=True,
                           x_col="x", y_col="y")
    return out


def get_db_conn(server: str, database: str, version: str = "sde.DEFAULT"):
    """arc_utils.py:339-373 — SDE connection file → JDBC reader factory."""
    from smartpy_arc_spark.sources.catalog import jdbc_conn

    return jdbc_conn(_spark(), server, database)


def get_df(name: str, aprx: str = "CURRENT", map=None, **kw):
    """pro_utils.py:133-168 — unique catalog lookup → pandas frame."""
    from smartpy_arc_spark.sources.catalog import get_df as _gd

    # bounded: by the caller, a user-facing pandas conversion
    return _gd(_spark(), name, **kw).toPandas()


def get_aprx(aprx_name: str = "CURRENT"):
    """pro_utils.py:12-28 — the 'project' handle; here the live
    SparkSession plays that role (there is exactly one 'current')."""
    return _spark()


def default_gdb(aprx=None) -> str:
    """pro_utils.py:31-48 — the default workspace: Spark's warehouse dir."""
    spark = aprx if isinstance(aprx, SparkSession) else _spark()
    return spark.conf.get("spark.sql.warehouse.dir")


def get_map(aprx_name: str = "CURRENT", map_name: str | None = None) -> str:
    """pro_utils.py:51-76 — a 'map' maps to a catalog database.  Returns
    the current (or named, validated) database.  The reference's
    raise-on-found bug (pro_utils.py:74-76) is not reproduced."""
    spark = _spark()
    if map_name is None:
        return spark.catalog.currentDatabase()
    hits = [d.name for d in spark.catalog.listDatabases()
            if d.name.lower() == map_name.lower()]
    if not hits:
        raise LookupError(f"no database named {map_name!r}")
    return hits[0]


def get_table(name: str, aprx_name: str = "CURRENT",
              map_name: str | None = None) -> DataFrame:
    """pro_utils.py:106-130 — fetch a table by unique name (0 or >1
    matches raise, the reference's uniqueness contract)."""
    from smartpy_arc_spark.sources.catalog import get_table_unique

    spark = _spark()
    return spark.table(get_table_unique(spark, name, map_name))


def get_layer(name: str, aprx_name: str = "CURRENT",
              map_name: str | None = None) -> DataFrame:
    """pro_utils.py:79-103 — a 'layer' is a registered view (see
    ``create_layer``); fetched with the same uniqueness contract."""
    return get_table(name, aprx_name, map_name)


def pandas_to_array(df, keep_index: bool = True, cols=None):
    """arc_utils.py:750-783 — frame → structured numpy array (the
    reference feeds this to arcpy.da; kept for API parity — Spark-side
    writes go through ``pandas_to_arc``/``write_table``)."""
    import pandas as pd

    # bounded: by the caller, a user-facing pandas conversion
    pdf = df.toPandas() if isinstance(df, DataFrame) else pd.DataFrame(df)
    if cols is not None:
        pdf = pdf[list(cols)]
    return pdf.to_records(index=keep_index)


def create_new_feature_class(in_fc, out_fc, flds=None, where=None,
                             shp_prefix=None):
    """arc_utils.py:1128-1129 — deprecated in the reference, same here."""
    raise DeprecationWarning("***DEPRECATED -- see `copy_feats` method***")


def create_new_feature_class2(in_fc, out_gdb, out_fc, flds=None, where=None):
    """arc_utils.py:1132-1133 — deprecated in the reference, same here."""
    raise DeprecationWarning("***DEPRECATED -- see `copy_feats` method***")


def split_poly(poly, target_area, search_tolerance: float = 0.005):
    """poly_splitting.py:13-82 — one left/right split; accepts WKB bytes or
    ring lists (the engine's in-memory polygon form)."""
    from smartpy_arc_spark.geometry.split import split_poly as _sp
    from smartpy_arc_spark.geometry.wkb import decode_polygon

    rings = decode_polygon(poly) if isinstance(poly, (bytes, bytearray)) else poly
    return _sp(rings, target_area, search_tolerance)


def recursive_split(poly, num_parts, on_done_splitting=None,
                    search_tolerance: float = 0.005):
    """poly_splitting.py:85-132 — recursive halving; the reference's
    ``on_done_splitting`` callback receives the list of parts (instead of
    arcpy geometries, ring lists)."""
    import random as _random

    from smartpy_arc_spark.geometry.split import recursive_split as _rs
    from smartpy_arc_spark.geometry.wkb import decode_polygon

    rings = decode_polygon(poly) if isinstance(poly, (bytes, bytearray)) else poly
    parts = _rs(rings, num_parts, _random.Random(0), search_tolerance)
    if on_done_splitting is not None:
        on_done_splitting(parts)
    return parts


def polars_to_arc(df, out_work: str, out_cls: str, geo_col: str | None = None,
                  srs=None, geometry_encoding: str = "EsriShape") -> str:
    """arc_utils.py:1054-1120 — write a frame that carries a geometry column:
    ``geometry_encoding`` declares the encoding the COLUMN IS IN
    (EsriShape/EsriJSON/GeoJSON/WKT/WKB); it is decoded to canonical WKB and
    tagged with the CRS before writing.  ``geo_col=None`` writes a plain
    table (the reference's :1105 None crash is not reproduced)."""
    import pandas as pd

    from smartpy_arc_spark.geometry import decode_geometry
    from smartpy_arc_spark.meta import tag_geometry
    from smartpy_arc_spark.sinks.write import write_table

    sdf = _spark().createDataFrame(df) if isinstance(df, pd.DataFrame) else df
    if geo_col is not None:
        sdf = decode_geometry(sdf, geometry_encoding, geo_col)
        sdf = tag_geometry(sdf, geo_col, crs=srs)
    return write_table(sdf, out_work, out_cls, overwrite=True)


def split_equal_area(in_polys, out_work: str, out_fc: str, max_acres: float,
                     flds=None) -> str:
    """poly_splitting.py:135-198 — equal-area split + materialize with
    ORIG_FID/SPLIT_SEQ lineage.  ``max_acres`` is interpreted in the
    coordinate system's planar units (the reference converts via
    getArea('PLANAR','ACRES'); unit conversion is the caller's choice)."""
    from smartpy_arc_spark.geometry import split_equal_area as _sea
    from smartpy_arc_spark.sinks.write import write_table

    df = _frame(in_polys)
    parts = _sea(df, max_area_units=max_acres, flds=flds)
    return write_table(parts, out_work, out_fc, overwrite=True)
