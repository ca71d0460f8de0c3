"""Session/state context managers — M1-M5 (SURVEY.md §2.7).

The reference scopes mutable arcpy environment state; here the analogous
state is the Spark catalog's current database, a process-local default
write mode, and scratch directories.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession

# Process-local default-overwrite flag consumed by callers that honor
# TempOverwrite scoping (the reference's arcpy.env.overwriteOutput,
# arc_utils.py:121-135).
_OVERWRITE_DEFAULT: list[bool] = [False]
# Post-join qualified-name policy (arc_utils.py:138-152). The enrich_join
# operator always emits unqualified names; this records the scoped intent
# for API parity.
_QUALIFIED_FIELDS: list[bool] = [True]

SCRATCH_PREFIX = "__scratch__killme_"


def overwrite_default() -> bool:
    return _OVERWRITE_DEFAULT[-1]


class TempWork:
    """M1 ``TempWork`` (arc_utils.py:93-118): temporarily switch the current
    database (the workspace) and restore on exit."""

    def __init__(self, spark: SparkSession, database: str):
        self.spark = spark
        self.database = database
        self._prev: str | None = None

    def __enter__(self):
        self._prev = self.spark.catalog.currentDatabase()
        self.spark.catalog.setCurrentDatabase(self.database)
        return self

    def __exit__(self, *exc):
        if self._prev is not None:
            self.spark.catalog.setCurrentDatabase(self._prev)
        return False


class TempOverwrite:
    """M2 ``TempOverwrite`` (arc_utils.py:121-135): scoped default write mode."""

    def __init__(self, overwrite: bool = True):
        self.overwrite = overwrite

    def __enter__(self):
        _OVERWRITE_DEFAULT.append(self.overwrite)
        return self

    def __exit__(self, *exc):
        _OVERWRITE_DEFAULT.pop()
        return False


class TempQualifiedFields:
    """M3 ``TempQualifiedFields`` (arc_utils.py:138-152): scoped toggle for
    table.field name qualification in join outputs."""

    def __init__(self, qualified: bool = False):
        self.qualified = qualified

    def __enter__(self):
        _QUALIFIED_FIELDS.append(self.qualified)
        return self

    def __exit__(self, *exc):
        _QUALIFIED_FIELDS.pop()
        return False


class CheckoutExtension:
    """M4 ``CheckoutExtension`` (arc_utils.py:155-176): license checkout has no
    Spark analogue — a no-op shim kept for API parity."""

    def __init__(self, name: str):
        self.name = name

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class ScratchDir:
    """M5 ``ScratchGdb`` (arc_utils.py:179-330): a uniquely-named scratch
    workspace deleted on exit, with janitor classmethods to list/clear
    leftovers (arc_utils.py:311-330)."""

    def __init__(self, base: str | None = None):
        self.base = base or tempfile.gettempdir()
        self.path = os.path.join(self.base, SCRATCH_PREFIX + uuid.uuid4().hex[:10])
        os.makedirs(self.path, exist_ok=True)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.delete()
        return False

    def __del__(self):
        try:
            self.delete()
        except Exception:
            pass

    def delete(self):
        if os.path.isdir(self.path):
            shutil.rmtree(self.path, ignore_errors=True)

    @classmethod
    def list_leftovers(cls, base: str | None = None) -> list[str]:
        base = base or tempfile.gettempdir()
        if not os.path.isdir(base):
            return []
        return [
            os.path.join(base, d)
            for d in os.listdir(base)
            if d.startswith(SCRATCH_PREFIX)
        ]

    @classmethod
    def clear_leftovers(cls, base: str | None = None) -> int:
        paths = cls.list_leftovers(base)
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)
        return len(paths)
