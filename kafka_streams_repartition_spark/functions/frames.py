"""Driver-collected rows back into Spark without a Python worker.

``spark.createDataFrame(rows, schema)`` over a Python list goes through
``parallelize``: the rows are pickled, ``_reserialize``d and read back
by an identity ``PythonRDD`` map, so every scan of the frame starts
Python workers.  For a k-row centroid table that round trip measured
1.1-1.3 s of task time (~40 ms of it CPU) per use on a 4-core host.

:func:`local_frame` hands Spark a ``pyarrow.Table`` instead.  Below
``spark.sql.execution.arrow.localRelationThreshold`` the JVM decodes it
into a ``LocalRelation``: an in-plan literal table, scanned without any
task or worker.  The values are the same IEEE doubles either way.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType
) -> DataFrame:
    """``rows`` (tuples or ``Row``s, in ``schema`` field order) as a
    DataFrame backed by an Arrow-built local relation."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
