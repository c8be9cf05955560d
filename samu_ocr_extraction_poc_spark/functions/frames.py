"""Small literal DataFrames as pure-JVM LocalRelations.

``spark.createDataFrame(py_rows, ...)`` builds a PYTHON-RDD-backed frame:
every action that touches it — even a 2-row read — schedules a
distributed job that spins a Python worker to unpickle the rows
(profiled 0.3-1.2 s per collect at bench scale). An Arrow table handed
to ``createDataFrame`` with an explicit schema is parsed on the JVM into
a LocalRelation instead: joins broadcast it from the driver, collects
are driver-local, and no Python worker is ever involved. Any row count
works, zero included, and every value round-trips as typed (NaN, quotes
and backslashes too; a StructType schema keeps its column metadata).

Use for the package's bounded literal tables (percentile lists, shard
offset tables, merge tables, driver-finished loop results, sketch
versions); NOT for anything data-scale.

The same module owns the one rule for "small enough to hold on the
driver": the session's ``spark.sql.autoBroadcastJoinThreshold``, the
budget Spark itself uses to ship a table to every executor.

It also owns the one reader of an artifact's parameters
(:func:`column_params`): a build that other operators read later (the
LSH band index, the Bloom, count-min, histogram and HLL sketches) stamps
its parameters as metadata on its key column, so a reader takes no shape
arguments and cannot disagree with the build.
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def values_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """Literal frame from ``rows`` (tuples in column order) with ``schema``,
    a ``"name type, name type"`` DDL string or a StructType, built from an
    Arrow table as a LocalRelation (see module doc)."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def column_params(
    df: DataFrame,
    col: str,
    names: tuple[str, ...],
    build: str,
    check: Callable[..., None] | None = None,
) -> tuple:
    """The parameters ``names`` that ``build`` stamped as metadata on
    ``df``'s ``col`` (``DataFrame.withMetadata``), in that order. The
    metadata rides the schema, so the read submits no Spark job, and it
    survives persist, localCheckpoint and the parquet round trip.

    A frame can come back from parquet, from outside the program, so the
    values are validated: each must be an integer, and ``check(*values)``
    may raise for combinations the build itself refuses. Raises
    ValueError naming ``build`` when a parameter is missing or not an
    integer."""
    meta = df.schema[col].metadata if col in df.columns else {}
    values = tuple(meta.get(n) for n in names)
    if not all(isinstance(v, int) for v in values):
        raise ValueError(
            f"{col} carries no {build} parameters {names} (found {meta}); "
            f"rebuild the frame with {build}"
        )
    if check is not None:
        check(*values)
    return values


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes, read
    as the typed SQLConf value (so "10m" and "-1" parse as Spark parses
    them); <= 0 means broadcasting is off."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def collect_within_budget(df: DataFrame, row_bytes: int) -> list[Row] | None:
    """All rows of ``df`` when it has at most ``broadcast_threshold //
    row_bytes`` of them, else None. One ``limit(bound + 1).collect()``:
    the caller finishes on the driver with the rows, or goes on with
    ``df`` itself when None comes back. A threshold <= 0 returns None
    without running anything."""
    bound = broadcast_threshold(df.sparkSession) // row_bytes
    if bound <= 0:
        return None
    rows = df.limit(bound + 1).collect()
    return rows if len(rows) <= bound else None


def local_or_checkpoint(df: DataFrame, row_bytes: int) -> DataFrame:
    """``df`` materialized for later joins: as a :func:`values_frame` when
    :func:`collect_within_budget` returns its rows, else as an eager
    ``localCheckpoint``. The literal frame carries its size, so the join
    that reads it is planned as a broadcast up front; a checkpointed RDD
    has no size statistics, and AQE must run it as a stage of its own
    before it can choose.

    The collect keeps ``df``'s partitions, at the cost of a second job
    (Spark's limit scans one partition, then the rest): a row-local gate
    scores its documents in that last stage, and coalesced to one task
    the quality gate over 100,000 documents took a median 12.7 s against
    7.8 s (local[4], 4-core VM, warm, 5 runs each)."""
    rows = collect_within_budget(df, row_bytes)
    if rows is None:
        return df.localCheckpoint(eager=True)
    return values_frame(df.sparkSession, rows, df.schema)


def release_frame(df: DataFrame) -> None:
    """Release whatever backs an intermediate frame: the CacheManager entry
    for persist()-ed frames (plain unpersist), AND the cached internal RDD
    behind a localCheckpoint-ed frame — Dataset.unpersist() does NOT cover
    the latter (checkpoint RDDs bypass the CacheManager), so without this
    an iterative loop leaks one cached RDD per checkpoint until the
    ContextCleaner happens to reclaim it (observed: never, while the py4j
    bridge pins the plan objects). The frame must not be used afterwards.
    """
    df.unpersist()
    try:
        lp = df._jdf.queryExecution().logical()
        if lp.getClass().getName().endswith("LogicalRDD"):
            lp.rdd().unpersist(False)
    except Py4JError:
        pass  # the JVM side is already gone; the cleaner reclaims the RDD
