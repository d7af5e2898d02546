"""Sources and sinks (SURVEY.md §2.1).

Reference surface rebuilt Spark-first:
- CSV scan with header+inference       (dags/create-data-lake.py:66,69)
- HTTP JSON scan (driver-side fetch)   (dags/create-data-lake.py:91-95)
- JDBC create-or-replace bulk sink     (dags/create-data-lake.py:38-62)
- headerless CSV serialization         (dags/create-data-lake.py:55)
plus the lakehouse-native Parquet scan/sink the driver test tables use.

Scale notes: schema inference is offered for reference parity but
production paths take an explicit ``StructType`` (inference at 100 TB
costs an extra full scan). Parquet sinks accept ``partition_by`` so the
lake is partition-pruned on read. Parquet reads through
:func:`scan_parquet` (:func:`load_table`, :func:`merge_by_key`,
:func:`compact_parquet` too) take their schema from one data file's
footer, converted on the driver by Spark's own ``readSchemaFromFooter``
(:func:`_footer_schema`), so building the frame submits no schema job,
whoever wrote the file; a path the driver cannot list locally (``s3a://``,
``hdfs://``, a bare path under a non-``file`` default filesystem, a
glob), a ``mergeSchema`` session or a table with summary files falls back
to Spark's own one-footer inference job. The JDBC sink bounds write
parallelism via ``num_partitions`` so a 1000-executor cluster cannot
accidentally open 1000 connections against one database — the
reference's single COPY socket (dags/create-data-lake.py:59-61) is the
opposite failure mode (no parallelism at all).
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# ---------------------------------------------------------------------------
# Scans
# ---------------------------------------------------------------------------

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan; Catalyst pushes filters/column pruning into it.

    The schema comes from :func:`_footer_schema`: for a local table, the
    schema Spark's own inference would take from the footer it would
    pick, converted on the driver, so building the frame runs no job
    whoever wrote the file (Spark, pyarrow, DuckDB). Otherwise (object
    store, glob, ``mergeSchema``, summary files) Spark infers the schema
    as ``read.parquet`` always did, with its one-task footer job.
    """
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read on the
    driver from one footer — or ``None`` when Spark must infer it itself.

    Without ``mergeSchema`` and summary files, ``ParquetUtils.inferSchema``
    runs one task that reads the footer of the first data file in path
    order and converts it with ``ParquetFileFormat.readSchemaFromFooter``:
    the Spark row metadata when the footer has it, else the parquet schema
    through a ``ParquetToSparkSchemaConverter`` built from the session's
    parquet read confs (``binaryAsString``, ``int96AsTimestamp``,
    ``inferTimestampNTZ``, ``legacy.parquet.nanosAsLong``). This makes the
    same calls on the driver through py4j, on the same file: leaf files
    whose names start with ``.``, or with ``_`` and hold no ``=``, are
    skipped as Spark's file index skips them. ``None`` (so Spark's own job
    runs) for a non-``file`` scheme, a relative path or a glob, a bare
    path while the session's ``fs.defaultFS`` is not ``file:`` (it then
    names a file on that filesystem, not the local one listed here), a
    ``mergeSchema`` session, a ``_metadata``/``_common_metadata`` file, no
    data file, a data column that is also a partition directory key (whose
    type Spark takes from the path), or any error reading the footer
    (Spark's own read then raises its own error).
    """
    from urllib.parse import urlparse

    url = urlparse(path)
    root = url.path if url.scheme else path
    if (
        any(c in path for c in "{}[]*?\\")
        or url.scheme not in ("", "file")
        or url.netloc
        or not os.path.isabs(root)
        or spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true"
    ):
        return None
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    if not url.scheme and not hconf.get("fs.defaultFS", "file:///").startswith("file:"):
        return None
    if os.path.isfile(root):
        first = root
    else:
        data = []
        for d, dirs, files in os.walk(root):
            dirs[:] = [n for n in dirs if not _hidden(n)]
            if any(n.startswith(_SUMMARY_FILES) for n in files):
                return None
            data += [os.path.join(d, n) for n in files if not _hidden(n)]
        if not data:
            return None
        first = min(data)
    try:
        jvm = spark._jvm
        pq = jvm.org.apache.parquet
        parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
        file = jvm.org.apache.hadoop.fs.Path("file", None, first)
        # SKIP_ROW_GROUPS: the filter Spark's own footer job reads with.
        meta = pq.hadoop.ParquetFileReader.readFooter(
            hconf, file, pq.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
        )
        converted = parquet.ParquetFileFormat.readSchemaFromFooter(
            pq.hadoop.Footer(file, meta), parquet.ParquetToSparkSchemaConverter(state.conf())
        )
        schema = StructType.fromJson(json.loads(converted.json()))
    except Exception:
        return None
    keys = {
        part.split("=", 1)[0].lower()
        for part in os.path.relpath(first, root).split(os.sep)[:-1]
        if "=" in part
    }
    if keys & {f.name.lower() for f in schema.fields}:
        return None
    return schema


def _hidden(name: str) -> bool:
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def scan_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar scan — same vectorized reader + filter/column
    pushdown contract as parquet; the lake's second columnar format."""
    return spark.read.orc(path)


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan. With ``schema=None`` mirrors the reference's
    ``pd.read_csv`` inference (dags/create-data-lake.py:69); pass an
    explicit schema in production to avoid the inference pre-scan.
    """
    reader = spark.read.option("header", header)
    if schema is None:
        reader = reader.option("inferSchema", True)
    else:
        reader = reader.schema(schema)
    return reader.csv(path)


def scan_json(
    spark: SparkSession, path: str, schema: StructType | None = None, multiline: bool = True
) -> DataFrame:
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_http_json(
    spark: SparkSession,
    url: str,
    schema: StructType | None = None,
    fetch: Any = None,
    retries: int = 3,
    backoff_base_sec: float = 0.5,
    sleep: Any = None,
    landing_dir: str | None = None,
) -> DataFrame:
    """GET a REST endpoint and parallelize the parsed JSON array
    (reference: requests.get + json.loads + json_normalize,
    dags/create-data-lake.py:91-97).

    Driver-side by design: the reference's payload is a ~5,570-row
    dimension table; a distributed HTTP source buys nothing. ``fetch`` is
    injectable for tests (no network in CI); defaults to urllib.

    Fault tolerance mirrors the reference DAG's ``default_args`` retry
    semantics (dags/create-data-lake.py:8-14): the fetch is retried
    ``retries`` times with bounded exponential backoff
    (``backoff_base_sec * 2**attempt``); ``sleep`` is injectable so
    tests run without wall-clock delay. The final failure re-raises the
    fetch's own exception.

    Schema-less payloads get ``spark.read.json``'s full multi-row schema
    inference, with no deprecated ``.rdd`` hop: given ``landing_dir`` they
    are LANDED there as a JSONL file and scanned (the lake "land then
    scan" ingest pattern; a task retry re-reads the landed file), else
    the reader infers over the payload's JSON text rows directly and no
    file is written. With an explicit ``schema`` the payload goes through
    ``from_json`` directly — no landing file, no inference pass.
    """
    body = _fetch_with_retries(
        url, fetch, retries=retries, backoff_base_sec=backoff_base_sec, sleep=sleep
    )
    records = json.loads(body)
    if not isinstance(records, list):
        records = [records]
    return _land_json_rows(spark, records, schema=schema, landing_dir=landing_dir)


def _fetch_with_retries(
    url: str,
    fetch: Any = None,
    retries: int = 3,
    backoff_base_sec: float = 0.5,
    sleep: Any = None,
) -> str:
    """One GET with the DAG's default_args retry semantics
    (dags/create-data-lake.py:8-14): bounded exponential backoff,
    injectable fetch and sleep, final failure re-raises the fetch's own
    exception. Shared by the single-shot and paginated HTTP sources."""
    if fetch is None:

        def fetch(u: str) -> str:
            from urllib.request import urlopen

            with urlopen(u, timeout=60) as resp:  # noqa: S310
                return resp.read().decode("utf-8")

    if sleep is None:
        import time as _time

        sleep = _time.sleep

    for attempt in range(retries + 1):
        try:
            return fetch(url)
        except Exception:
            if attempt == retries:
                raise
            sleep(backoff_base_sec * (2**attempt))
    raise AssertionError("unreachable")


def _land_json_rows(
    spark: SparkSession,
    records: list,
    schema: StructType | None = None,
    landing_dir: str | None = None,
) -> DataFrame:
    """Turn parsed JSON rows into a DataFrame: explicit ``schema`` goes
    through ``from_json`` directly; schema-less rows get
    ``spark.read.json``'s multi-row inference — LANDED as a JSONL file
    under ``landing_dir`` and scanned (the lake land-then-scan pattern),
    or, with no ``landing_dir``, read from the JSON text rows themselves
    through ``DataFrameReader.json(Dataset<String>)``: the same inference
    as the file read, and no temp file that nothing would remove (the
    returned frame reads its source lazily)."""
    if schema is None and landing_dir is not None:
        import tempfile

        fd, landing = tempfile.mkstemp(
            suffix=".jsonl", prefix="http_json_landed_", dir=landing_dir
        )
        with os.fdopen(fd, "w") as fh:
            for r in records:
                fh.write(json.dumps(r) + "\n")
        return spark.read.json(landing)
    import pyarrow as pa

    # An Arrow table plans as a LocalTableScan under any Arrow conf; a
    # list of tuples becomes a pickled-row Scan ExistingRDD when the
    # session leaves spark.sql.execution.arrow.pyspark.enabled off.
    text = pa.table({"json": pa.array([json.dumps(r) for r in records], pa.string())})
    text_df = spark.createDataFrame(text)
    if schema is not None:
        import pyspark.sql.functions as F

        return text_df.select(F.from_json("json", schema).alias("rec")).select("rec.*")
    lines = getattr(text_df._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    return DataFrame(spark._jsparkSession.read().json(lines), spark)


def scan_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Read back a lake table over JDBC (the reference's implied
    "consultas" path, dags/create-data-lake.py:23-24). Optional
    partitioned read so a large table scan fans out across executors.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------


def sink_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Lakehouse-native persistence. ``partition_by`` (e.g. state/date for
    the covid lake) enables static+dynamic partition pruning downstream.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def sink_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC twin of sink_parquet (same partitioning semantics)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def sink_jdbc_replace(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    num_partitions: int = 8,
    truncate: bool = False,
    create_table_column_types: str | None = None,
    isolation_level: str | None = None,
) -> None:
    """Create-or-replace a relational table and bulk-load it — the Spark
    equivalent of the reference's ``df[:0].to_sql(if_exists='replace')`` +
    ``cursor.copy_from`` fast path (dags/create-data-lake.py:50,54-61).

    Spark's JDBC writer issues batched parameterized INSERTs, which also
    fixes the reference's unquoted-comma COPY corruption bug
    (dags/create-data-lake.py:60; SURVEY.md §2.12). ``num_partitions``
    caps connection fan-out.

    Dialect knobs (the Postgres-parity surface — the reference's real
    sink is Postgres, docker-compose-local.yml:14-23):

    - ``truncate=True``: on overwrite, TRUNCATE and reload instead of
      DROP+CREATE — keeps grants/indexes/views on the target table (the
      production-Postgres fast path; Spark falls back to drop when the
      dialect can't truncate safely).
    - ``create_table_column_types``: explicit DDL type overrides, e.g.
      ``"city VARCHAR(128), rate NUMERIC(12,2)"`` — pins dialect type
      mapping where the default (TEXT/DOUBLE PRECISION on Postgres,
      CLOB/DOUBLE on Derby) is not the reference's DDL.
    - ``isolation_level``: e.g. ``READ_COMMITTED``; NONE disables
      transactions for bulk loads on engines where that is faster.
    """
    writer = (
        df.coalesce(num_partitions)
        .write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("truncate", "true" if truncate else "false")
    )
    if create_table_column_types:
        writer = writer.option("createTableColumnTypes", create_table_column_types)
    if isolation_level:
        writer = writer.option("isolationLevel", isolation_level)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def jdbc_target(
    dialect: str, workdir: str | None = None
) -> tuple[str, dict[str, str]] | None:
    """(url, properties) for a named JDBC dialect, or None if that
    dialect is unreachable here.

    - ``derby``: embedded, always available (the jars ship with Spark
      for the Hive metastore); a fresh database under ``workdir``.
    - ``postgres``: the reference's real sink. Reachable only when
      $SPARK_GRAFT_PG_URL (jdbc:postgresql://...) is set AND the pgjdbc
      driver is on the classpath; credentials ride $SPARK_GRAFT_PG_USER
      / $SPARK_GRAFT_PG_PASSWORD. Returns None otherwise so callers
      (and the dialect-matrix tests) skip cleanly.
    """
    if dialect == "derby":
        import tempfile

        dbdir = workdir or tempfile.mkdtemp(prefix="derby_dialect_")
        return (
            f"jdbc:derby:{dbdir}/lakedb;create=true",
            {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"},
        )
    if dialect == "postgres":
        url = os.environ.get("SPARK_GRAFT_PG_URL")
        if not url:
            return None
        props = {"driver": "org.postgresql.Driver"}
        if os.environ.get("SPARK_GRAFT_PG_USER"):
            props["user"] = os.environ["SPARK_GRAFT_PG_USER"]
        if os.environ.get("SPARK_GRAFT_PG_PASSWORD"):
            props["password"] = os.environ["SPARK_GRAFT_PG_PASSWORD"]
        return url, props
    raise ValueError(f"unknown JDBC dialect: {dialect}")


def sink_csv(df: DataFrame, path: str, header: bool = False, mode: str = "overwrite") -> None:
    """Headerless CSV serialization (reference: to_csv(header=False),
    dags/create-data-lake.py:55). Spark quotes fields containing the
    separator — the reference's COPY path did not (SURVEY.md §2.12).
    """
    df.write.mode(mode).option("header", header).csv(path)


def sink_csv_for_copy(
    df: DataFrame,
    path: str,
    table: str,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> str:
    """COPY-parity bulk sink: land ``df`` as quoted CSV part files plus a
    generated ``COPY ... FROM`` load script — the scalable rebuild of the
    reference's ``cursor.copy_from(StringIO(csv), table)`` fast path
    (dags/create-data-lake.py:54-61).

    The reference serialized with ``to_csv(header=False)`` and streamed
    it down ONE socket with default COPY TEXT format — any comma inside a
    value shifted every following column (SURVEY.md §2.12), and the
    single socket is the throughput ceiling. This sink fixes both by
    construction:

    - fields are quoted with ``"`` and embedded quotes doubled (escape
      ``"``), i.e. exactly Postgres ``COPY ... WITH (FORMAT csv)``
      semantics — commas, newlines and quotes round-trip;
    - NULL lands as an *unquoted* empty field and empty string as a
      *quoted* empty field (``nullValue=''`` / ``emptyValue='""'``),
      matching COPY csv's ``NULL ''`` convention so the distinction
      survives the wire;
    - the data lands as N part files written by the executors in
      parallel (no driver materialization — the reference buffered the
      whole table in a driver-side StringIO), and the emitted script
      issues one ``\\copy`` per part so the database-side load can be
      fanned out across connections by running script lines
      concurrently. ``num_partitions`` bounds the part count the same
      way sink_jdbc_replace bounds connection fan-out.

    Returns the path of the generated ``load_<table>.sql`` psql script.
    Executing it is the operator's database half; tests stand in Derby's
    bulk importer (SYSCS_UTIL.SYSCS_IMPORT_TABLE, the same
    one-call-per-file shape) for the unreachable Postgres.

    Contract: ``path`` must be a LOCAL filesystem directory and the
    write must be uncompressed — the part enumeration (and psql's
    ``\\copy``, which reads client-side files) happens on the driver's
    local disk. For an object-store landing zone, list parts with the
    store's own API and load server-side (``COPY FROM PROGRAM`` / aws_s3
    extension); that is a different operator. An empty-script result for
    a non-empty ``df`` raises rather than silently emitting a zero-row
    load.
    """
    # Bound the FILE COUNT without bounding compute: always repartition
    # when a bound is requested — one extra (deterministic, skew-free
    # round-robin) shuffle, and the upstream computation keeps its full
    # parallelism. The previous coalesce-vs-repartition choice keyed off
    # df.rdd.getNumPartitions(), which sidesteps (or can eagerly
    # materialize) the AQE-optimized plan, so the compared count could
    # differ from the write-time partition count and pick the
    # upstream-collapsing coalesce exactly when it meant not to
    # (ADVICE r10). The repartition shuffle is the predictable price of
    # an exact part-count contract.
    out = df.repartition(num_partitions) if num_partitions else df
    (
        out.write.mode(mode)
        .option("header", "false")
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "")
        .option("emptyValue", '""')
        .option("compression", "none")
        .csv(path)
    )
    from pathlib import Path as _P

    parts = sorted(p for p in _P(path).glob("part-*.csv"))
    if not parts and not df.isEmpty():
        raise FileNotFoundError(
            f"sink_csv_for_copy: wrote a non-empty DataFrame but found no "
            f"part-*.csv under {path!r} — the path is not a local "
            f"filesystem directory (s3a/hdfs need store-side listing) or "
            f"a compression codec renamed the parts. Refusing to emit an "
            f"empty load script."
        )
    # script lands NEXT TO the csv dir, not inside it — the landing dir
    # must stay cleanly re-scannable (a .sql file inside would pollute
    # any downstream spark.read.csv over the directory)
    script = _P(path).parent / f"{_P(path).name}_load_{table}.sql"
    lines = [
        f"\\copy {table} FROM '{p}' WITH (FORMAT csv, NULL '', QUOTE '\"', ESCAPE '\"')"
        for p in parts
    ]
    script.write_text("\n".join(lines) + "\n")
    return str(script)


def jdbc_execute(
    spark: SparkSession,
    url: str,
    statements: list[str],
    properties: dict[str, str] | None = None,
) -> None:
    """Run raw SQL/CALL statements over a JDBC connection via the
    driver JVM — the escape hatch for database-side DDL and bulk-load
    procedures that Spark's JDBC writer cannot express (e.g. Derby's
    ``SYSCS_UTIL.SYSCS_IMPORT_TABLE``, Postgres ``COPY``). Driver-side
    and sequential by design: these are O(1)-per-table admin calls, not
    data movement.

    ``properties`` mirrors scan_jdbc: ``driver`` names the JDBC driver
    class to load before connecting (required for non-autoloaded
    drivers like org.postgresql.Driver); the rest (``user``,
    ``password``, ...) ride the connection as java.util.Properties.
    Pass ``jdbc_target(...)``'s properties dict straight through.
    """
    jvm = spark.sparkContext._jvm
    props = dict(properties or {})
    driver_class = props.pop("driver", None)
    if driver_class:
        # DriverManager only sees drivers its classloader has touched;
        # Class.forName registers the named driver first (same contract
        # as Spark's own JDBC source "driver" option).
        jvm.java.lang.Class.forName(driver_class)
    if props:
        jprops = jvm.java.util.Properties()
        for k, v in props.items():
            jprops.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    else:
        conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            for sql in statements:
                st.execute(sql)
        finally:
            st.close()
    finally:
        conn.close()


def pg_copy_load(
    spark: SparkSession,
    url: str,
    table: str,
    script_path: str,
    properties: dict[str, str] | None = None,
) -> int:
    """Execute a ``sink_csv_for_copy`` load script against a REAL
    Postgres — the database half of the COPY-parity bulk sink (the
    reference's ``cursor.copy_from(StringIO(csv), table)``,
    dags/create-data-lake.py:54-61, re-expressed as per-part client-side
    COPY streams against the docker-compose Postgres target,
    docker-compose-local.yml:14-23). psql's
    ``\\copy`` is client-side (it streams a local file down the wire as
    ``COPY ... FROM STDIN``); pgjdbc exposes exactly that path through
    ``org.postgresql.copy.CopyManager``, so no file needs to be visible
    to the server and no psql binary is required. One copyIn per part
    file, same FORMAT csv / NULL '' / QUOTE/ESCAPE '"' options the
    script declares. Returns total rows loaded.

    Driver-side and sequential like jdbc_execute (per-part admin calls);
    parallel database-side load = run parts over several connections.
    """
    import re

    jvm = spark.sparkContext._jvm
    props = dict(properties or {})
    driver_class = props.pop("driver", "org.postgresql.Driver")
    jvm.java.lang.Class.forName(driver_class)
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    total = 0
    try:
        base = conn.unwrap(jvm.java.lang.Class.forName("org.postgresql.core.BaseConnection"))
        cm = jvm.org.postgresql.copy.CopyManager(base)
        from pathlib import Path as _P

        for line in _P(script_path).read_text().splitlines():
            m = re.match(r"\\copy (\S+) FROM '([^']+)'", line)
            if not m or m.group(1) != table:
                continue
            fis = jvm.java.io.FileInputStream(m.group(2))
            try:
                total += cm.copyIn(
                    f"COPY {table} FROM STDIN WITH "
                    f"(FORMAT csv, NULL '', QUOTE '\"', ESCAPE '\"')",
                    fis,
                )
            finally:
                fis.close()
    finally:
        conn.close()
    return total


def sink_fixed_width(
    df: DataFrame, path: str, widths: dict[str, int], mode: str = "overwrite"
) -> None:
    """Serialize columns as fixed-width text records (the mainframe /
    legacy-feed wire format: no delimiters, field position IS the
    schema). Numeric columns are left-padded, strings right-padded; a
    value wider than its declared field raises at write time (truncation
    would corrupt silently — the classic fixed-width feed bug).
    Distributed text sink: one line per row via ``df.write.text``.
    """
    import pyspark.sql.functions as F
    from pyspark.sql.types import NumericType

    fields = dict(zip(df.schema.fieldNames(), df.schema.fields))
    parts = []
    for col, width in widths.items():
        s = F.col(col).cast("string")
        guard = F.when(
            F.length(s) > width,
            F.raise_error(
                F.concat(F.lit(f"fixed-width overflow in {col}: "), s)
            ),
        ).otherwise(s)
        if isinstance(fields[col].dataType, NumericType):
            parts.append(F.lpad(guard, width, " "))
        else:
            parts.append(F.rpad(guard, width, " "))
    df.select(F.concat(*parts).alias("value")).write.mode(mode).text(path)


def scan_fixed_width(
    spark: SparkSession, path: str, spec: list[tuple[str, int, str]]
) -> DataFrame:
    """Parse fixed-width text records back into typed columns.
    ``spec`` = [(name, width, dtype), ...] in record order; fields are
    sliced by position (``substring``), trimmed, and cast — all
    codegen'd per-row expressions, so the scan parallelizes like any
    text source and pushes column pruning into the projection.
    """
    import pyspark.sql.functions as F

    raw = spark.read.text(path)
    cols, pos = [], 1
    for name, width, dtype in spec:
        cols.append(
            F.trim(F.substring("value", pos, width)).cast(dtype).alias(name)
        )
        pos += width
    return raw.select(*cols)


# ---------------------------------------------------------------------------
# Lakehouse maintenance (the operations a 100 TB parquet lake needs to stay
# fast: clustering for min/max pruning, partition-level upsert, key-level
# merge, small-file compaction)
# ---------------------------------------------------------------------------


def sink_parquet_clustered(
    df: DataFrame, path: str, cluster_by: list[str], num_files: int = 8
) -> None:
    """Write range-clustered, sorted parquet: rows are range-partitioned on
    ``cluster_by`` (each output file owns a disjoint key range) and sorted
    within each file. Parquet footers then carry tight min/max stats per
    file/row-group, so selective scans skip whole files — the poor man's
    Z-order, and the difference between reading 1 file and 1000 at 100 TB.
    ``repartitionByRange`` samples the keys, so skewed domains still yield
    balanced files.
    """
    (
        df.repartitionByRange(num_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .parquet(path)
    )


def upsert_partitions(
    spark: SparkSession, df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Partition-level upsert: dynamic partition overwrite replaces ONLY
    the partitions present in ``df`` and leaves every other partition
    untouched — no read-modify-write of the whole lake. This is the
    scalable ingest pattern for an append-mostly partitioned lake (e.g.
    re-landing one state/date of the covid feed); row-level merge needs
    :func:`merge_by_key` or a table format (Delta/Iceberg).

    The mode is a per-write option, not the session conf: sinks run on
    concurrent driver threads (``etl.run_tasks_parallel``), and a
    flip-and-restore of the shared conf could leave the session dynamic.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def _swap_table_dir(path: str, staging: str) -> None:
    """Swap a rewritten parquet table into place with the smallest
    possible unavailability window and a recovery copy.

    rmtree-then-rename would leave NO table at all if the process dies
    between the two calls (and a concurrent reader hitting that window
    sees a missing path). Instead: verify both directories actually look
    like parquet tables, rename the live dir aside (one atomic rename),
    rename staging in (second atomic rename — the only no-table window is
    between these two renames), then delete the old copy. A crash after
    the first rename leaves the data recoverable at ``<path>__old``.
    """
    import shutil
    from pathlib import Path

    live, stage = Path(path), Path(staging)

    def looks_like_parquet_table(d: Path) -> bool:
        return d.is_dir() and (any(d.glob("*.parquet")) or (d / "_SUCCESS").exists())

    if not looks_like_parquet_table(stage):
        raise ValueError(f"staging dir is not a parquet table: {staging}")
    if not looks_like_parquet_table(live):
        raise ValueError(
            f"refusing to replace non-parquet-table path: {path} "
            "(guard against rmtree on an arbitrary caller-supplied dir)"
        )
    old = Path(str(live) + "__old")
    if old.exists():
        shutil.rmtree(old)
    live.rename(old)
    stage.rename(live)
    shutil.rmtree(old)


def merge_by_key(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> None:
    """Key-level merge (upsert) into a plain-parquet table: keep every
    existing row whose key is absent from ``df`` (left anti join), union
    the incoming rows, and swap the rewritten table in via a staging
    directory — plain parquet has no transaction log, so the swap is the
    commit point (a table format makes this atomic; the plan shape —
    anti-join + union — is exactly what Delta's MERGE compiles to for
    whole-row upserts; the swap itself is two renames with a recovery
    copy, see :func:`_swap_table_dir`). The anti join shuffles on the
    merge key; with the lake and the batch both bucketed on that key it
    is co-located.
    """
    staging = path.rstrip("/") + "__staging"
    existing = scan_parquet(spark, path)
    merged = (
        existing.join(df.select(*keys), keys, "left_anti")
        .unionByName(df)
        .select(*existing.columns)  # the using-join puts the keys first
    )
    merged.write.mode("overwrite").parquet(staging)
    _swap_table_dir(path, staging)


def compact_parquet(spark: SparkSession, path: str, target_files: int) -> None:
    """Small-file compaction: rewrite a directory of many small parquet
    files into ``target_files`` balanced ones via a round-robin
    repartition, swapping through a staging directory (two renames with a
    recovery copy, see :func:`_swap_table_dir`). Streaming sinks and
    per-trigger micro-batches accrete small files; at scan time each file
    costs a task plus footer/open overhead, so periodic compaction keeps
    100 TB scans sized by bytes, not file count.
    """
    staging = path.rstrip("/") + "__staging"
    scan_parquet(spark, path).repartition(target_files).write.mode("overwrite").parquet(staging)
    _swap_table_dir(path, staging)


# ---------------------------------------------------------------------------
# Test-table loader
# ---------------------------------------------------------------------------


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table (TESTDATA.md).

    events.parquet carries TIMESTAMP(NANOS) — a parquet logical type Spark
    does not support natively (PARQUET_TYPE_ILLEGAL). Read it as raw
    nanosecond longs (legacy conf, runtime-settable) and convert with
    exact integer division: ``timestamp_micros(ts div 1000)`` truncates
    exactly like DuckDB's ns->us read of the same file.

    Reads through :func:`scan_parquet` after the confs are set, so the
    footer schema is converted under ``nanosAsLong`` too and loading a
    table submits no schema-inference job.
    """
    path = f"{sf_dir}/{name}.parquet"
    # Timestamp semantics are defined in UTC (parquet values are naive
    # instants; the DuckDB oracle reads them naively) — pin the session
    # timezone so results don't depend on the caller's session config.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Engine semantics are non-ANSI (permissive casts, null on bad input,
    # wrapping arithmetic) — Spark 4 flips the default to ANSI, so pin it
    # here where every query path enters the engine.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    if name != "events":
        return scan_parquet(spark, path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return events_ts(scan_parquet(spark, path))


def events_ts(events: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column of raw events.parquet, read under
    ``spark.sql.legacy.parquet.nanosAsLong``, to TIMESTAMP — the one
    conversion behind both the batch loader (:func:`load_table`) and the
    file-replay stream (streaming/jobs.py:file_replay_stream).

    Spark 4.1 reads TIMESTAMP(NANOS) parquet as timestamp_ntz, which
    unix_micros()/withWatermark() reject; under the UTC session TZ that
    :func:`load_table` pins, the cast is a relabel, not a wall-clock shift. Earlier readers
    yield raw nanosecond longs, converted with exact integer division:
    ``timestamp_micros(ts div 1000)`` truncates exactly like DuckDB's
    ns->us read of the same file.
    """
    import pyspark.sql.functions as F

    ts_dtype = dict(events.dtypes).get("ts")
    if ts_dtype == "bigint":
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_dtype == "timestamp_ntz":
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for the spark.sql surface."""
    for name in TPCH_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Custom Python data source (Spark 4 DataSource API)
# ---------------------------------------------------------------------------

def register_synthetic_source(spark: SparkSession) -> None:
    """Register ``format("synth_rows")`` — a custom PYTHON data source
    (pyspark.sql.datasource, Spark 4): the extension point for sources
    Spark has no connector for (internal services, bespoke file formats),
    declared once and then consumed through the ordinary reader API.

    The source generates a deterministic keyed row stream: ``n`` rows
    split across ``parts`` InputPartitions, each read independently by
    executors — real partition-parallel scan semantics, no driver-side
    materialization. Row content is a pure function of the row id
    (multiplicative-hash mix), so any engine can replay it — which is
    what makes a driver-checkable oracle possible for a custom source.
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _Slice(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class _Reader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 1000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            step = max(1, -(-self.n // self.parts))
            return [
                _Slice(s, min(s + step, self.n)) for s in range(0, self.n, step)
            ]

        def read(self, part):
            for i in range(part.start, part.end):
                mixed = (i * 2654435761) % 1_000_000
                yield (i, mixed / 100.0, f"row_{i % 97}")

    class _SynthSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synth_rows"

        def schema(self) -> str:
            return "id bigint, score double, tag string"

        def reader(self, schema):
            return _Reader(self.options)

    spark.dataSource.register(_SynthSource)


def register_jsonl_sink(spark: SparkSession) -> None:
    """Register ``format("jsonl_sink")`` — the WRITE side of the custom
    Python data source API (DataSourceWriter): executors serialize their
    partitions to JSON-lines files named by partition id under the
    ``path`` option; commit/abort give the sink transactional hooks (the
    same two-phase protocol Spark's file sinks implement). Pairs with
    ``register_synthetic_source`` to cover both directions of the
    extension point.
    """
    import json as _json
    import os as _os

    from pyspark import TaskContext
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Msg(WriterCommitMessage):
        def __init__(self, tmp: str, final: str):
            self.tmp, self.final = tmp, final

    class _Writer(DataSourceWriter):
        def __init__(self, options, overwrite: bool):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("jsonl_sink requires a path option")

        def write(self, rows):
            # Two-phase: tasks write to an ATTEMPT-UNIQUE temp name; only
            # commit() (driver, after every task succeeded) renames to the
            # final name. A task dying mid-write leaves a sweepable .tmp,
            # never a torn final file; speculative duplicate attempts
            # cannot interleave on one path.
            ctx = TaskContext.get()
            pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
            final = _os.path.join(self.path, f"part-{pid:05d}.jsonl")
            tmp = final + f".{attempt}.tmp"
            with open(tmp, "w") as fh:
                for row in rows:
                    fh.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
            return _Msg(tmp, final)

        def commit(self, messages):
            for m in messages:
                _os.replace(m.tmp, m.final)
            return None

        def abort(self, messages):
            for m in messages:
                if m is not None and _os.path.exists(m.tmp):
                    _os.remove(m.tmp)
            # Sweep temp files from attempts that died before reporting.
            import glob as _glob

            for leftover in _glob.glob(_os.path.join(self.path, "*.tmp")):
                _os.remove(leftover)

    class _JsonlSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "jsonl_sink"

        def writer(self, schema, overwrite: bool):
            return _Writer(self.options, overwrite)

    spark.dataSource.register(_JsonlSink)


def scan_http_json_paged(
    spark: SparkSession,
    url: str,
    schema: StructType | None = None,
    fetch: Any = None,
    page_param: str = "page",
    page_size_param: str = "per_page",
    page_size: int = 100,
    max_pages: int = 1000,
    retries: int = 3,
    backoff_base_sec: float = 0.5,
    sleep: Any = None,
    landing_dir: str | None = None,
) -> DataFrame:
    """Paginated REST ingest: GET ``url?page=N&per_page=K`` for N = 1, 2,
    ... until a page returns an empty array (or ``max_pages`` trips the
    runaway guard), then scan the concatenated payload exactly like
    :func:`scan_http_json` — per-page retries with the same bounded
    backoff, landed as one JSONL (one file, pages concatenated in fetch
    order) under ``landing_dir`` or inferred from the payload's text rows
    for the schema-less path, parallelized through ``from_json`` with an
    explicit ``schema``.

    Driver-side by design, same argument as scan_http_json: public REST
    dimensions (the IBGE localidades API this mirrors serves ~5,570
    municipality rows) are dim-sized, and the page loop is inherently
    sequential (page N's emptiness decides whether N+1 exists). A
    100 TB-scale source would come through Kafka/files instead — this is
    the long tail of small lookup feeds every lake still has to ingest.
    """
    import json as _json
    import urllib.parse

    pages: list[list] = []
    for page_no in range(1, max_pages + 1):
        sep = "&" if "?" in url else "?"
        page_url = f"{url}{sep}{urllib.parse.urlencode({page_param: page_no, page_size_param: page_size})}"
        payload = _fetch_with_retries(
            page_url, fetch, retries=retries, backoff_base_sec=backoff_base_sec, sleep=sleep
        )
        rows = _json.loads(payload) if isinstance(payload, (str, bytes)) else payload
        if not rows:
            break
        pages.append(rows)
    flat = [row for page in pages for row in page]
    return _land_json_rows(spark, flat, schema=schema, landing_dir=landing_dir)


def register_synthetic_stream_source(spark: SparkSession) -> None:
    """Register ``format("synth_stream")`` — the STREAMING side of the
    custom Python data source pair (pyspark.sql.datasource
    SimpleDataSourceStreamReader, Spark 4): a deterministic keyed row
    stream delivered in offset-tracked micro-batches.

    The reader hands Spark an (offset -> offset') range per trigger
    (``batch_rows`` rows each, up to ``n`` total); offsets are plain
    dicts the engine checkpoints, so restart/replay semantics are the
    real Structured Streaming contract, not a simulation. Row content
    is the same pure function of the row id as the batch twin
    (``synth_rows``) — which is what lets a DuckDB oracle replay the
    full stream and hash-match the drained result.
    """
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _StreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", 1000))
            self.batch_rows = int(options.get("batch_rows", 100))

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            s = start["pos"]
            e = min(s + self.batch_rows, self.n)
            rows = [
                (i, ((i * 2654435761) % 1_000_000) / 100.0, f"row_{i % 97}")
                for i in range(s, e)
            ]
            return iter(rows), {"pos": e}

        def readBetweenOffsets(self, start, end):
            return iter(
                (i, ((i * 2654435761) % 1_000_000) / 100.0, f"row_{i % 97}")
                for i in range(start["pos"], end["pos"])
            )

    class _SynthStream(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synth_stream"

        def schema(self) -> str:
            return "id bigint, score double, tag string"

        def simpleStreamReader(self, schema):
            return _StreamReader(self.options)

    spark.dataSource.register(_SynthStream)
