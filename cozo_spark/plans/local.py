"""Driver-side small relations as JVM LocalRelations.

A plain ``spark.createDataFrame(list)`` builds a python-RDD leaf
(LogicalRDD over a parallelized pickled list), and EVERY job that scans
one pays ~0.35 s of python-worker task overhead — measured r10: the LSM
minor collapse over 8 one-row deltas ran 2.9 s with RDD leaves vs 0.17 s
after this change, and the same per-leaf constant was the long-observed
~0.4 s-per-pending-layer read cost. Converting the rows into a
``pyarrow.Table`` built against the Spark schema first yields a pure-JVM
``LocalRelation`` (LocalTableScan at runtime — no python workers,
broadcast-able, constant-foldable). ``createDataFrame`` takes that path for
a ``pyarrow.Table`` whatever ``spark.sql.execution.arrow.pyspark.enabled``
says, and ``pyarrow.array`` keeps a float NaN apart from a NULL (only its
pandas conversion reads NaN as missing). Anything Arrow can't convert
(exotic nesting, mixed object columns) falls back to the RDD path
unchanged, so semantics never depend on the fast path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``createDataFrame`` for small driver-side row lists, preferring a
    JVM LocalRelation. ``schema`` may be a StructType, a DDL string, or a
    list of column names (column types then come from Arrow's inference).
    """
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        if isinstance(schema, StructType):
            names, types = schema.names, to_arrow_schema(schema).types
        else:
            names, types = list(schema), [None] * len(schema)
        table = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=t)
             for i, t in enumerate(types)], names=names)
        return spark.createDataFrame(table, schema)
    except (ImportError, ArithmeticError, IndexError, NotImplementedError,
            TypeError, ValueError):
        # pyarrow's conversion errors subclass these builtins
        return spark.createDataFrame(rows, schema=schema)
