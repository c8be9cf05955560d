"""SparkSession factory tuned for the extraction workload.

Local mode here; the same knobs are what we'd ship to a 1000-executor
cluster: AQE on (runtime re-plan + skew-join splitting), Arrow batching
capped so a 400-page filing's span array doesn't blow an Arrow batch,
shuffle partitions sized to parallelism instead of the 200 default.

Python workers start from :mod:`.pydaemon` (``spark.python.daemon.module``),
which takes Spark's zip and jar archives off the worker's import path so a
task's ``importlib.invalidate_caches()`` has no archive to re-read. The
package's parent directory is appended to ``spark.executorEnv.PYTHONPATH``
(after any value in ``extra_conf``) so workers find that module wherever
the driver found the package. A session built without :func:`get_spark`
(e.g. ``scripts/run_pipeline.py`` under ``spark-submit``) keeps pyspark's
default daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import pydaemon

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "samu_ocr_extraction_poc_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession on ``local[n]`` with ``2n`` shuffle
    partitions (unless ``shuffle_partitions`` is given). n is ``cores``,
    else ``SPARK_GRAFT_CPUS``, else the number of cores this process may
    run on (``os.sched_getaffinity``), as bench.py and perfbench pick it.

    ``spark.sql.execution.arrow.maxRecordsPerBatch`` is deliberately low:
    each record carries a whole document's span array, so batches are sized
    by document count, not rows (skew discipline, SURVEY.md §4).
    """
    cores = (
        cores
        or int(os.environ.get("SPARK_GRAFT_CPUS") or 0)
        or len(os.sched_getaffinity(0))
    )
    shuffle = shuffle_partitions or cores * 2
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate turns every explode(expensive_array_expr)
        # into an inferred `size(expr) > 0` filter that Catalyst then pushes
        # BELOW the repartition exchange — the whole shingle/window/k-gram
        # array (md5 per element) is evaluated once in the low-parallelism
        # scan stage just to be discarded, then recomputed above the
        # exchange (measured: the filter stage alone was 1.1 s of the 3.0 s
        # remove_shared_windows wall at sf0.1; excluding the rule took the
        # query to 1.65 s with bit-identical results). Scale-independent:
        # the doubled evaluation + filter-below-exchange placement is wrong
        # at any cluster size for generator inputs that are never empty by
        # construction (every explode in this engine guards emptiness
        # explicitly). Results are unaffected — the rule only ever inserts
        # redundant filters.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", pydaemon.__name__)
    )
    extra_conf = dict(extra_conf or {})
    pythonpath = (extra_conf.pop("spark.executorEnv.PYTHONPATH", ""), _PACKAGE_PARENT)
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", os.pathsep.join(p for p in pythonpath if p)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
