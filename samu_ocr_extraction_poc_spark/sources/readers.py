"""Sources/sinks: Iceberg-first with plain-parquet fallback (SURVEY.md §7).

The north_rule targets Iceberg tables; the sandbox has no Iceberg jars, so
every loader tries the Iceberg catalog and falls back to parquet paths with
identical schemas. Writers expose the bucketing/partitioning discipline the
100 TB plan needs (hash-bucket by doc_id so downstream joins co-locate).
"""

from __future__ import annotations

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession

from ..schema import DOCUMENTS_SCHEMA


def iceberg_available(spark: SparkSession) -> bool:
    """Whether the session's JVM can load Iceberg's ``Table`` class. py4j
    answers a missing class with a ``JavaPackage``, not an error."""
    return isinstance(spark._jvm.org.apache.iceberg.Table, JavaClass)  # type: ignore[attr-defined]


def load_documents(spark: SparkSession, location: str) -> DataFrame:
    """Load the interleaved corpus from an Iceberg table name or a parquet
    path (schema enforced either way)."""
    if "/" not in location and iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(location)


def write_documents(
    df: DataFrame,
    location: str,
    n_buckets: int = 32,
    table_name: str | None = None,
) -> None:
    """Write the corpus bucketed by doc_id.

    - Iceberg present: ``writeTo(...).partitionedBy(bucket(n, doc_id))`` —
      real bucket transform, scan-time pruning + storage-partitioned joins.
    - Parquet fallback: directory partitioned by a bucket column computed
      with the same hash, which later reads can use for partition pruning
      and co-located processing.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if table_name and iceberg_available(spark):
        df.writeTo(table_name).partitionedBy(F.bucket(n_buckets, F.col("doc_id"))).createOrReplace()
        return
    (
        df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(location)
    )


def exclude_manifest_files(df: DataFrame) -> DataFrame:
    """F11 manifest-key filter: the reference's S3 prefix scans drop keys
    containing 'Manifest' (stack.ICD10CodeSaver.ts:42-46 and twins); the
    scan analog filters on the provenance file name — Catalyst evaluates
    input_file_name() without reading excluded rows' payloads."""
    from pyspark.sql import functions as F

    return df.where(~F.input_file_name().contains("Manifest"))


def spans_from_plain_text(df: DataFrame) -> DataFrame:
    """Ingestion adapter: plain-text documents -> the engine's interleaved
    (doc_id, spans) corpus shape (BASELINE.json input_hint). This is the
    on-ramp for a user whose corpus is raw text / JSONL / CSV rather than
    pre-segmented spans: words fold into 8-word line spans with a
    ``page_break`` span after every 5 lines, offsets
    sequential — the correspondence-letter structure run_extraction expects.

    Pure array HOFs (transform/sequence/slice/flatten): zero shuffle, zero
    Python — the ingest stays narrow on the source scan at any corpus size.
    """
    from pyspark.sql import functions as F

    from ..functions.textfns import let_bound

    page_break = F.struct(
        F.lit("page_break").alias("kind"),
        F.lit("").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(None).cast("int").alias("offset"),
    )

    # word array let-bound (textfns.let_bound): line_span references it
    # inside the per-line lambda, which would re-split the text per line
    def build(words):
        n_lines = F.ceil(F.size(words) / 8.0).cast("int")
        line_span = lambda i: F.struct(  # noqa: E731
            F.lit("line").alias("kind"),
            F.array_join(
                F.slice(words, (i - 1) * 8 + 1, 8), " "
            ).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(None).cast("int").alias("offset"),  # filled below
        )
        # line i, plus a page_break after every 5th line
        per_line = F.transform(
            F.sequence(F.lit(1), n_lines),
            lambda i: F.when(
                i % 5 == 0, F.array(line_span(i), page_break)
            ).otherwise(F.array(line_span(i))),
        )
        return F.transform(
            F.flatten(per_line),
            lambda s, idx: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                idx.cast("int").alias("offset"),
            ),
        )

    spans = let_bound(F.split(F.trim(F.col("text")), r"\s+"), build)
    out = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.length(F.trim(F.col("text"))) > 0, spans).otherwise(
            F.array().cast(DOCUMENTS_SCHEMA["spans"].dataType)
        ).alias("spans"),
    )
    return out


def read_text_corpus(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Generic text-corpus reader (S1/S2 analog: scans replace per-object
    GETs; key filters become partition/file pruning)."""
    reader = spark.read
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        return reader.json(path)
    if fmt == "csv":
        return reader.option("header", True).csv(path)
    if fmt == "text":
        return reader.text(path)
    raise ValueError(f"unsupported format: {fmt}")


def write_training_shards(
    docs: DataFrame,
    location: str,
    n_shards: int = 32,
) -> None:
    """The training-pipeline SINK: join the corpus with its packing
    assignment (operators/corpus.py:pack_assignments — doc -> (shard, bin))
    and write one directory partition per shard, rows sorted by (bin,
    doc_id) inside each file so a trainer streams bins in order without a
    read-time sort. repartition(shard) before partitionBy keeps it to one
    writer task per shard (no small-file explosion: without it every
    input partition writes a file into every shard directory —
    tasks x shards files at scale).
    """
    from pyspark.sql import functions as F

    from ..operators.corpus import pack_assignments

    assign = pack_assignments(docs, n_shards=n_shards)
    rows = docs.select("doc_id", "text") \
        .join(assign, "doc_id")
    (
        # leading 'shard' satisfies the writer's required ordering on the
        # partition column (otherwise V1 inserts a second full sort by
        # shard on top, and the per-file (bin, doc_id) order would survive
        # only by sort-stability accident, not contract)
        rows.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "bin", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(location)
    )


def read_training_shard(spark: SparkSession, location: str, shard: int) -> DataFrame:
    """Read ONE shard partition — the filter is a directory-partition
    predicate, so the scan prunes to that shard's files (PartitionFilters
    in the plan, verified by test)."""
    from pyspark.sql import functions as F

    return spark.read.parquet(location).where(F.col("shard") == shard)
