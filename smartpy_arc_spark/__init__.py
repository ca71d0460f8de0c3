"""smartpy_arc_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of AZMAG/smartpy_arc, re-expressed Spark-first.

The reference (``/root/reference/smartpy_arc``) is a bridge between the ESRI
geodatabase world and pandas/polars; it delegates all relational work to the
arcpy engine.  This package provides the same surface natively on Spark
DataFrames (see SURVEY.md for the operator-by-operator mapping), plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) the reference never had.

Design rules (100 TB target):
  * DataFrame/SQL only — no RDDs, no driver-side loops over collect().
  * Declarative plans so Catalyst does pruning/pushdown/join selection.
  * Built-in ``pyspark.sql.functions`` in the hot path; Arrow-batched
    pandas UDFs only where built-ins can't express the semantics
    (geometry splitting, multimodal decode).
  * Broadcast bounded sides only; LSH instead of all-pairs similarity.
"""

from smartpy_arc_spark.session import get_spark, install_zip_reread_gate

install_zip_reread_gate()

from smartpy_arc_spark.sources.scan import scan, scan_pandas
from smartpy_arc_spark.sources.inspect import (
    row_count,
    list_flds,
    list_fld_types,
    get_oid_fld,
    get_shp_fld,
)
from smartpy_arc_spark.sources.catalog import (
    get_df,
    get_table_unique,
    jdbc_conn,
    open_workspace,
)

from smartpy_arc_spark.sinks.write import write_table, copy_feats

from smartpy_arc_spark.operators.join import enrich_join
from smartpy_arc_spark.plans.layer import create_layer, field_map
from smartpy_arc_spark.plans.context import (
    TempWork,
    TempOverwrite,
    TempQualifiedFields,
    CheckoutExtension,
    ScratchDir,
)

from smartpy_arc_spark.functions.scalar import (
    copy_oids,
    add_ap_ratio,
    clamp_timestamps,
    fill_null_sentinels,
    restore_null_sentinels,
    compat_cast_for_write,
)

__all__ = [
    "get_spark",
    "scan",
    "scan_pandas",
    "row_count",
    "list_flds",
    "list_fld_types",
    "get_oid_fld",
    "get_shp_fld",
    "get_df",
    "get_table_unique",
    "jdbc_conn",
    "open_workspace",
    "write_table",
    "copy_feats",
    "enrich_join",
    "create_layer",
    "field_map",
    "TempWork",
    "TempOverwrite",
    "TempQualifiedFields",
    "CheckoutExtension",
    "ScratchDir",
    "copy_oids",
    "add_ap_ratio",
    "clamp_timestamps",
    "fill_null_sentinels",
    "restore_null_sentinels",
    "compat_cast_for_write",
]
