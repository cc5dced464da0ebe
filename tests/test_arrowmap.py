"""functions/arrowmap.py — the mapInPandas-contract-on-mapInArrow adapter.

The adapter swaps only the transport under an unchanged kernel contract,
so the pin here is EQUIVALENCE: for a
kernel exercising every column shape the engine ships through it
(bigint, int, double, array<bigint>, array<double>, string), arrow_map
must return exactly what mapInPandas returns — values, schema, and
row-multiplying/filtering kernels included.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from databricks_observe_spark.functions.arrowmap import arrow_map

SCHEMA = (
    "id bigint, small int, x double, ints array<bigint>,"
    " doubles array<double>, name string"
)


def _make_kernel():
    """Kernel built inside a function so cloudpickle ships it by value
    (tests are not importable on executors). Touches every column;
    changes cardinality (drops id%7==0 rows, duplicates id%5==0 rows) to
    prove the non-row-preserving contract."""

    def kernel(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            keep = pdf[pdf["id"] % 7 != 0].copy()
            keep["x"] = keep["x"] * 2.0 + _np.float64(0.125)
            keep["ints"] = keep["ints"].map(lambda a: [v + 1 for v in a])
            dup = keep[keep["id"] % 5 == 0]
            yield _pd.concat([keep, dup], ignore_index=True)

    return kernel


def _source(spark):
    return (
        spark.range(200)
        .select(
            F.col("id"),
            (F.col("id") % 11).cast("int").alias("small"),
            (F.col("id") * 0.5).alias("x"),
            F.array(F.col("id"), F.col("id") + 1).alias("ints"),
            F.array(F.col("id") * 1.5, F.lit(0.25)).alias("doubles"),
            F.concat(F.lit("doc-"), F.col("id")).alias("name"),
        )
        .repartition(4)
    )


def test_arrow_map_matches_mapinpandas(spark):
    src = _source(spark)
    via_arrow = arrow_map(src, _make_kernel(), SCHEMA)
    via_pandas = src.mapInPandas(_make_kernel(), SCHEMA)
    assert via_arrow.schema == via_pandas.schema
    key = ["id", "small", "x", "name"]
    a = sorted(via_arrow.collect(), key=lambda r: tuple(r[k] for k in key))
    b = sorted(via_pandas.collect(), key=lambda r: tuple(r[k] for k in key))
    assert a == b
    # cardinality actually changed (filter + duplication both exercised)
    assert len(a) != 200


def test_arrow_map_empty_input(spark):
    src = _source(spark).filter("id < 0")
    assert arrow_map(src, _make_kernel(), SCHEMA).count() == 0


def test_arrow_map_reslices_large_output_frames(spark):
    """A kernel that emits ONE big frame per task must not produce one
    unbounded Arrow batch — arrow_map re-slices output frames to
    spark.sql.execution.arrow.maxRecordsPerBatch, mirroring mapInPandas's
    output slicing, with identical results."""

    def _one_big_frame():
        def kernel(batches):
            import pandas as _pd

            pdfs = [p for p in batches if len(p)]
            if pdfs:
                yield _pd.concat(pdfs, ignore_index=True)

        return kernel

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "16")  # force many slices per output frame
        src = _source(spark).coalesce(1)  # one task, one 200-row frame
        out = arrow_map(src, _one_big_frame(), SCHEMA)
        rows = sorted(out.collect(), key=lambda r: r.id)
        base = sorted(src.collect(), key=lambda r: r.id)
        assert [r.id for r in rows] == [r.id for r in base]
        assert rows == base
    finally:
        spark.conf.set(key, prev)
