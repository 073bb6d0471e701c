"""SparkSession factory tuned for this engine.

Local mode is the test/bench harness; the same settings scale to a cluster
(AQE, skew-join handling, Arrow for the vectorized UDF path). Shuffle
partitions default to the local core count instead of 200 — at cluster
scale the caller overrides via ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "abecto_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; cluster deployments override
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)
    return _tuned(
        SparkSession.builder.master(master), app_name, shuffle_partitions,
        extra_conf, local=True,
    )


def submit_spark(
    app_name: str = "abecto_pipeline",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session for ``spark-submit`` jobs: the same engine tuning as
    :func:`get_spark`, but master / deploy-mode / resource sizing are
    owned by the submitter (``spark-submit --master yarn --py-files
    abecto_spark.zip ...``) — setting master in code would silently
    override the CLI. Shuffle partitions are likewise left to
    ``--conf spark.sql.shuffle.partitions`` unless given explicitly."""
    return _tuned(
        SparkSession.builder, app_name, shuffle_partitions, extra_conf,
        local=False,
    )


def _tuned(
    builder,
    app_name: str,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
    local: bool,
) -> SparkSession:
    builder = (
        builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces shuffles by *input* bytes; similarity joins here
        # have tiny inputs (blocking-key tables, KBs) but quadratic
        # outputs + CPU-heavy UDFs downstream. The 1 MB default floor
        # collapses those stages to ~4 tasks regardless of cores — keep
        # parallelism-first coalescing effective with a small floor.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # compiled whole-stage classes are cached per plan shape in an LRU
        # of 100 by default; one pipeline build or graph-loop pass compiles
        # 160-270 classes, so every class was evicted before its reuse and
        # each repeat paid janino plus a fresh JIT of the new class. Static
        # conf: only takes effect when the session is built here.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if local:
        # test/bench harness knobs; a cluster submitter owns these
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("ABECTO_SPARK_DRIVER_MEM", "8g"),
        ).config("spark.ui.enabled", "false")
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
