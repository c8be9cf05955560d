"""Small literal DataFrames as pure-JVM LocalRelations.

``spark.createDataFrame(py_rows, ...)`` builds a PYTHON-RDD-backed frame:
every action that touches it — including a 2-row sketch-meta sentinel
read — schedules a distributed job that spins a Python worker to unpickle
the rows (profiled 0.3-1.2 s per collect at bench scale). A SQL ``VALUES``
list parses to a LocalRelation instead: joins broadcast it from the
driver, sentinel collects are driver-local, and no Python worker is ever
involved. Value-identical — the same literals, typed by explicit CASTs.

Use for the package's bounded literal tables (sketch meta sentinels,
percentile lists, shard offset tables, merge tables); NOT for anything
data-scale.

The same module owns the one rule for "small enough to hold on the
driver": the session's ``spark.sql.autoBroadcastJoinThreshold``, the
budget Spark itself uses to ship a table to every executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession


def _sql_literal(v, typ: str) -> str:
    t = typ.strip().upper()
    if v is None:
        return f"CAST(NULL AS {t})"
    if t in ("STRING", "VARCHAR"):
        escaped = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    if t == "DOUBLE":
        return f"CAST({float(v)!r} AS DOUBLE)"
    return f"CAST({int(v)} AS {t})"


def values_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Literal frame from ``rows`` with the ``"name type, name type"``
    DDL schema, built as a SQL VALUES LocalRelation (see module doc).
    ``rows`` must be non-empty (SQL VALUES cannot be empty)."""
    if not rows:
        raise ValueError("values_frame needs at least one row")
    cols = [c.strip().rsplit(" ", 1) for c in ddl.split(",")]
    names = ", ".join(n.strip() for n, _ in cols)
    values = ", ".join(
        "(" + ", ".join(_sql_literal(v, t) for v, (_, t) in zip(r, cols)) + ")"
        for r in rows
    )
    return spark.sql(f"SELECT * FROM (VALUES {values}) AS t({names})")


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
