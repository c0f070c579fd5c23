"""SparkSession factory.

Replaces /root/reference/create_cluster.py (216 LoC of Redshift/IAM
provisioning) + the psycopg2 connect in etl.py:37 — on Spark the "cluster"
is a SparkSession. The knobs kept are the ones that matter semantically or
at scale:

- Session timezone UTC: the reference's ``TIMESTAMP 'epoch' + ts/1000 *
  INTERVAL '1 second'`` (sql_queries.py:152) is UTC arithmetic; EXTRACT
  parts drift unless the session TZ is pinned.
- AQE on: runtime re-planning (skew joins, partition coalescing) stands in
  for Redshift's ``STATUPDATE ON`` runtime statistics (sql_queries.py:126).
- ``spark.sql.shuffle.partitions`` sized to the machine for local runs; on a
  real 1000-executor cluster this should be ~2-3x total cores (set via
  ``extra_conf`` or spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def s3a_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    anonymous: bool = False,
) -> dict[str, str]:
    """Cloud-storage ingest seam — pass the result as ``extra_conf``.

    The reference reads its staging data straight from object storage
    (``s3://udacity-dend/song_data`` / ``log_data``, dwh.cfg:20-22, consumed
    by the COPY statements in sql_queries.py:122-136). On Spark the
    equivalent is the hadoop-aws s3a connector: with these configs set,
    every ``spark.read``/``load_fixture`` path may be an
    ``s3a://bucket/key`` URI and the scan machinery (pushdown, partition
    pruning, split planning) is unchanged. Credentials default to the
    provider chain (env/instance profile); pass keys or ``anonymous=True``
    for public buckets. Not exercisable in this sandbox (no network), so
    this seam is config-only by design.
    """
    conf: dict[str, str] = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
    }
    if anonymous:
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    if access_key and secret_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    return conf


def get_spark(
    app_name: str = "cdw_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale note: everything here is master-agnostic — the same code runs on
    ``local[N]`` and on YARN/K8s with 1000 executors; only ``master`` and the
    sizing configs change.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Determinism / semantics
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: coalesce post-shuffle partitions, convert
        # sort-merge->broadcast at runtime, split skewed partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-mode sizing; cluster deployments override via extra_conf.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        .config("spark.default.parallelism", str(cpus))
        # Arrow for any pandas_udf / toPandas path (the fast Python lane).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dimension tables (diststyle all in the
        # reference, sql_queries.py:85,105,117) must broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # State-store maintenance (snapshot compaction + old-file cleanup)
        # is sized for long-running queries; firing it mid-replay collides
        # with the replay's own commits (measured on the stateful
        # sessionizer at sf0.1: replay min 33 s -> 12.3 s with the
        # interval raised past the replay's lifetime, and run-to-run
        # variance collapsed). Bounded AvailableNow replays never live
        # long enough to need mid-run snapshots; long-running production
        # queries should override via extra_conf.
        .config(
            "spark.sql.streaming.stateStore.maintenanceInterval",
            os.environ.get("SPARK_GRAFT_STATE_MAINTENANCE", "600s"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/cdw_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
