"""Driver-side small relations as JVM LocalRelations.

A plain ``spark.createDataFrame(list)`` builds a python-RDD leaf
(LogicalRDD over a parallelized pickled list), and EVERY job that scans
one pays ~0.35 s of python-worker task overhead — measured r10: the LSM
minor collapse over 8 one-row deltas ran 2.9 s with RDD leaves vs 0.17 s
after this change, and the same per-leaf constant was the long-observed
~0.4 s-per-pending-layer read cost. Converting through pandas/Arrow with
an EXPLICIT schema yields a pure-JVM ``LocalRelation`` (LocalTableScan at
runtime — no python workers, broadcast-able, constant-foldable). Anything
Arrow can't convert (exotic nesting, mixed object columns) falls back to
the RDD path unchanged, so semantics never depend on the fast path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``createDataFrame`` for small driver-side row lists, preferring a
    JVM LocalRelation. ``schema`` may be a StructType or a DDL string.
    An empty list becomes an empty LocalRelation directly (Arrow turns an
    empty pandas frame into a python-RDD leaf too)."""
    if not rows and not isinstance(schema, (list, tuple)):
        try:
            if not hasattr(schema, "fields"):
                schema = spark.createDataFrame([], schema).schema
            jss = spark._jsparkSession
            return DataFrame(jss.createDataFrame(
                spark._jvm.java.util.ArrayList(),
                jss.parseDataType(schema.json())), spark)
        except Exception:
            pass
    if rows and not _has_nan(rows):
        try:
            import pandas as pd

            if hasattr(schema, "fields"):
                cols = [f.name for f in schema.fields]
            elif isinstance(schema, (list, tuple)):
                cols = list(schema)
            else:
                probe = spark.createDataFrame([], schema)
                cols = probe.columns
            # dtype=object keeps None as None (a numeric pandas column
            # would coerce it to NaN, and pandas' NaN-as-missing handling
            # is version-dependent)
            pdf = pd.DataFrame(data=[list(r) for r in rows], columns=cols,
                               dtype=object)
            return spark.createDataFrame(pdf, schema=schema)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema=schema)


def _has_nan(rows: list) -> bool:
    """True if any value is a REAL float NaN, at ANY nesting depth —
    pandas/Arrow treat NaN as the missing-value marker and would convert
    it to NULL, whereas the RDD path (and Spark semantics generally) keep
    NaN and NULL distinct. Such rows take the RDD path so both spellings
    stay faithful (schemas nest arbitrarily: array<array<double>>, map
    values, struct fields)."""
    return any(_val_has_nan(v) for r in rows for v in r)


def _val_has_nan(v) -> bool:
    if isinstance(v, float):
        return v != v
    if isinstance(v, (list, tuple, set)):
        return any(_val_has_nan(x) for x in v)
    if isinstance(v, dict):
        return any(_val_has_nan(x) for kv in v.items() for x in kv)
    return False
