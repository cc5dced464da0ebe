"""``mapInPandas``-compatible execution on the ``mapInArrow`` runner.

``arrow_map`` keeps the operator kernels exactly as they are — iterators
of pandas DataFrames in, iterators of pandas DataFrames out, so the
numpy math and its IEEE accumulation order are untouched — and only
swaps the transport: each Arrow record batch is converted to pandas on
the worker (the same columnar->pandas conversion the pandas runner
performs), and each yielded pandas frame is converted back through an
explicitly-typed Arrow schema derived from the declared output DDL (the
same name-matched, type-cast contract ``mapInPandas`` applies). Numeric
results are bit-identical to ``mapInPandas``.

It buys no worker-lifecycle advantage: on Spark 4.1.2 ``mapInPandas``
reuses its Python workers just as ``mapInArrow`` does (the same worker
PIDs serve consecutive jobs). The fixed per-task cost both runners pay
is the worker's zip-archive directory re-read, which
``worker_daemon`` removes. What ``arrow_map`` adds over ``mapInPandas``
is the output re-slicing and the strict casts described below.
"""

from __future__ import annotations

from typing import Callable, Iterator, Union

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def arrow_map(
    df: DataFrame,
    kernel: Callable[[Iterator], Iterator],
    schema: Union[str, StructType],
) -> DataFrame:
    """Run a pandas-batch-iterator ``kernel`` via ``mapInArrow``.

    ``kernel`` has the exact ``mapInPandas`` contract: it receives an
    iterator of pandas DataFrames (one or more per task) and yields
    pandas DataFrames matching ``schema`` by column name. Output column
    values are converted per-column with ``pa.array(..., type=declared,
    from_pandas=True)`` — the pandas-runner semantics (NaN -> null,
    integer downcasts checked) — so results match ``mapInPandas``
    bit-for-bit for the numeric/string/list types the engine uses.

    Output frames are RE-SLICED to the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (read at plan time,
    like the runners do) before conversion, mirroring ``mapInPandas``'s
    output slicing: a kernel that emits one large frame per task — e.g.
    a rescore over a whole candidate partition — otherwise produces one
    unbounded Arrow batch on the JVM side.

    Cast semantics are deliberately STRICTER than ``mapInPandas`` under
    ``convertToArrowArraySafely=false``: ``pa.array`` defaults to SAFE
    casting, so a kernel output that would silently truncate or wrap
    (e.g. a float column handed to a long field, an int64 overflowing an
    int32) raises ``ArrowInvalid`` here instead of corrupting data. The
    engine's kernels all emit exactly-typed columns, so the strictness
    is a tripwire, not a behavior change.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_schema = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    target = to_arrow_schema(spark_schema)
    names = [f.name for f in spark_schema.fields]
    max_records = int(
        df.sparkSession.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
        )
    )
    if max_records <= 0:  # Spark treats non-positive as "no limit"
        max_records = None

    def arrow_kernel(batches):
        import pyarrow as pa

        def pdfs():
            for b in batches:
                yield b.to_pandas()

        for out in kernel(pdfs()):
            n = len(out)
            if not n:
                continue
            step = max_records or n
            for lo in range(0, n, step):
                piece = out.iloc[lo : lo + step] if step < n else out
                arrs = [
                    pa.array(
                        piece[name], type=target.field(i).type, from_pandas=True
                    )
                    for i, name in enumerate(names)
                ]
                yield pa.RecordBatch.from_arrays(arrs, schema=target)

    return df.mapInArrow(arrow_kernel, spark_schema)
