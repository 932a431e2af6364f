"""SparkSession factory with engine defaults.

Defaults chosen for the target deployment (multi-executor cluster over
~100 TB of pages): AQE on (runtime re-plan + skew-join mitigation),
Arrow transfer for the vectorized-UDF boundary, and a shuffle
partition count that AQE may coalesce downward.

This module only builds sessions: importing the package changes
nothing in pyspark. The checkpoint policy (stats sanitizer, lazy
defusal, per-chain lineage bound) lives in `operators/checkpointing`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 8 MB thread stacks: deep-but-bounded RDD graphs (iterative loops
# between periodic checkpoints) recurse in Java task (de)serialization
# and DAG walks; the JVM default (~1 MB) has little margin. Virtual
# reservation only — no runtime cost. Set for the driver AND the
# executors (tasks deserialize on executor threads); a caller's own
# extraJavaOptions are appended after it, so a later -Xss still wins.
_XSS = "-Xss8m"
_JAVA_OPTIONS = ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")


def get_spark(
    app_name: str = "wetric-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in this sandbox;
    on a real cluster it is left to spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    conf = {k: _XSS for k in _JAVA_OPTIONS}
    for k, v in (extra_conf or {}).items():
        conf[k] = f"{_XSS} {v}" if k in _JAVA_OPTIONS else v
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
