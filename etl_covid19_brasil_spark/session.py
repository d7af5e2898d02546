"""SparkSession factory with scale-appropriate defaults.

The reference runs eager single-process pandas under Airflow
(dags/create-data-lake.py:69-79) with UTC as the scheduler timezone
(config/airflow.cfg:18). Here the session is configured once for the whole
engine: AQE on (runtime re-planning, skew-join splitting), UTC session
timezone (timestamp parity with the DuckDB oracle and the reference's
Airflow default), Arrow enabled for the Pandas-UDF paths, and the
engine's own Python worker daemon (:mod:`.pyworker`).

The daemon conf exists because every Python task used to pay a fixed
130-230 ms on Python 3.11 before its first row: the worker's
``importlib.invalidate_caches()`` made each zipimporter on its path
re-read Spark's ``pyspark.zip`` and spark-core jar. ``pyworker`` re-reads
an archive only when it changed. Only a local master's workers are
known to start where the driver does, and a worker can start it only if
a bare interpreter in the session's working directory imports this
package, so any other session keeps the stock ``pyspark.daemon``.

``shuffle_partitions`` defaults to the local core count; on a real cluster
you would size it to ~2-3x total executor cores and let AQE coalesce.
"""

from __future__ import annotations

import os
import site
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession


def _daemon_module(master: str) -> str:
    """``spark.python.daemon.module`` for a session on ``master`` started
    here: this package's :mod:`.pyworker` when the master is local
    (``local``, ``local[...]``) and a worker interpreter — started by
    Spark in the current directory, with ``$PYTHONPATH`` and site-packages
    on its path — can import the package, else the stock daemon (a daemon
    that fails to import would fail every Python UDF, and nothing here can
    check the hosts of a cluster's executors, nor ``local-cluster``'s
    executor directories)."""
    if master != "local" and not master.startswith("local["):
        return "pyspark.daemon"
    path = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if PathFinder.find_spec(__package__, path + site.getsitepackages()) is None:
        return "pyspark.daemon"
    return f"{__package__}.pyworker"


def get_spark(
    app_name: str = "etl-covid19-brasil-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors $SPARK_GRAFT_CPUS for local parallelism so bench and tests share
    one knob.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(min(n, 32))))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Catalyst/AQE: runtime coalescing, skew-join splitting, dynamic
        # broadcast conversion — the knobs that matter at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Timestamp parity with DuckDB oracle + reference Airflow UTC default.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas_udf / applyInPandas / toPandas fast paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small-dim broadcast threshold: every dim table in the star schema
        # (region/nation/customer/supplier/part) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ANSI off by default => permissive casts (nullable on failure),
        # matching the reference's lenient pandas coercions
        # (dags/create-data-lake.py:74-79). SPARK_GRAFT_ANSI=true runs
        # the engine under ANSI semantics — the full test suite passes
        # either way (CI runs both), so a 100 TB job that prefers
        # fail-loud arithmetic can turn it on without query changes.
        .config(
            "spark.sql.ansi.enabled",
            os.environ.get("SPARK_GRAFT_ANSI", "false"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", _daemon_module(master))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = False,
    anonymous: bool = False,
    connection_maximum: int = 96,
    fast_upload: bool = True,
) -> dict[str, str]:
    """Object-store (``s3a://``) configuration surface for
    ``get_spark(extra_conf=...)`` — the engine's declared support for
    S3-compatible lakes (the reference ships a dead ``boto3`` dependency,
    /root/reference/requirements.txt:1; SURVEY §2.1 notes).

    Off by default: every scan/sink in :mod:`io` is already path-scheme
    agnostic (``spark.read``/``df.write`` resolve the scheme through the
    Hadoop FileSystem API — ``file://``, bare paths, and ``s3a://`` all
    take the same code path), so s3a needs only (a) the hadoop-aws +
    aws-sdk-bundle jars on the classpath — matched to the Hadoop version,
    e.g. ``spark.jars.packages=org.apache.hadoop:hadoop-aws:3.4.1`` —
    and (b) these credentials/tuning keys. This sandbox has no object
    store, so the surface is declared and unit-tested for shape, not
    exercised against a live bucket.

    Scale knobs baked in: ``fs.s3a.connection.maximum`` sized for a
    many-core executor (default 96 parallel GETs), fast upload (async
    multipart PUT buffering) on, and the directory-marker policy set to
    ``keep`` (delete-markers mode issues one DELETE per parent dir per
    task commit — a real throttling hazard at 1000-executor commit
    storms). Anonymous mode maps to the public-dataset credential
    provider chain.
    """
    conf: dict[str, str] = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.connection.maximum": str(connection_maximum),
        "spark.hadoop.fs.s3a.fast.upload": "true" if fast_upload else "false",
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
        # Committer: the "magic" S3A committer avoids the O(files) rename
        # storm of FileOutputCommitter v1/v2 on an object store where
        # rename = copy+delete.
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if path_style_access:
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if anonymous:
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        )
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf


def s3a_conf_from_env() -> dict[str, str] | None:
    """s3a conf from $SPARK_GRAFT_S3A_* (ENDPOINT / ACCESS_KEY /
    SECRET_KEY / PATH_STYLE / ANONYMOUS), or None when unset — callers
    (and tests) skip cleanly, same contract as :func:`io.jdbc_target`."""
    endpoint = os.environ.get("SPARK_GRAFT_S3A_ENDPOINT")
    anon = os.environ.get("SPARK_GRAFT_S3A_ANONYMOUS", "").lower() in ("1", "true")
    if not endpoint and not anon:
        return None
    return s3a_conf(
        endpoint=endpoint,
        access_key=os.environ.get("SPARK_GRAFT_S3A_ACCESS_KEY"),
        secret_key=os.environ.get("SPARK_GRAFT_S3A_SECRET_KEY"),
        path_style_access=os.environ.get("SPARK_GRAFT_S3A_PATH_STYLE", "").lower()
        in ("1", "true"),
        anonymous=anon,
    )
