"""Driver-checkable §2.1 source/sink queries (SURVEY.md §2.1).

Each query WRITES through an engine sink and READS the result back
through the matching scan, so the driver's oracle compare certifies the
full serialize→deserialize contract, not just the scan:

- parquet sink (partitioned) + scan   (lakehouse-native path)
- headerless CSV sink + CSV scan      (dags/create-data-lake.py:55,66-69)
- ORC sink + scan                     (second columnar format)
- JDBC create-or-replace + JDBC scan  (dags/create-data-lake.py:38-62;
                                       embedded Derby, ships with Spark)
- the full covid pipeline end-to-end  (dags/create-data-lake.py:64-84)
- HTTP-JSON scan + ibge pipeline      (dags/create-data-lake.py:87-105)

Determinism notes
-----------------
* Sentinel-contaminated numerics are synthesized as *integer-cents
  strings* (``CAST(ROUND(x*100) AS BIGINT)`` then cast to text), never
  float→string formatting — Java's ``Double.toString`` and DuckDB's
  float formatter are not guaranteed to agree, but integer formatting
  is.
* CSV conflates NULL and '' on the wire (both serialize to an empty
  field). Every column where that matters is routed through
  ``clean_numeric``, whose contract maps both to the fill value, so the
  conflation is unobservable.
* The audit timestamp is load-time-dependent; the checked output is a
  boolean ``audit_ok`` (non-null), as in ``etl_audit_column``.

Scratch space: fixed directories under ``/tmp/etl_spark_roundtrip`` and
``mode=overwrite`` keep the queries idempotent across repeated driver
invocations; Derby gets a fresh ``mkdtemp`` per call because a stale
lock file from a crashed JVM would otherwise wedge the database boot.
"""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pyspark.sql.window import Window

from etl_covid19_brasil_spark import io
from etl_covid19_brasil_spark.etl import covid_pipeline, ibge_pipeline
from etl_covid19_brasil_spark.registry import T, cents, query

_SCRATCH = "/tmp/etl_spark_roundtrip"


def _scratch(name: str, sf: str) -> str:
    tag = Path(sf).name or "sf"
    d = Path(_SCRATCH) / f"{name}_{tag}"
    d.parent.mkdir(parents=True, exist_ok=True)
    return str(d)


def _recast(df: DataFrame, schema: StructType) -> DataFrame:
    """Restore the pre-write column order and exact types (partition
    columns come back last and may be inferred narrower)."""
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])


@query(
    "sink_scan_parquet_roundtrip",
    oracle="SELECT * FROM nation",
    section="2.1",
    doc="sink_parquet(partition_by=region) then scan_parquet: certifies "
    "partitioned parquet write+read returns the exact input relation "
    "(io.py sink_parquet/scan_parquet; partition values round-trip "
    "through directory names and are re-cast to the source type).",
)
def sink_scan_parquet_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "nation")
    path = _scratch("parquet_nation", sf)
    io.sink_parquet(src, path, partition_by=["n_regionkey"])
    return _recast(io.scan_parquet(spark, path), src.schema)


@query(
    "sink_scan_csv_roundtrip",
    oracle="SELECT * FROM customer",
    section="2.1",
    doc="sink_csv(header=False) then scan_csv with explicit schema — the "
    "reference's to_csv(header=False) wire format "
    "(dags/create-data-lake.py:55) with Spark's quoting, so comma-bearing "
    "comment fields survive (the reference's COPY path corrupted them, "
    "SURVEY.md §2.12). TPC-H text columns are never empty, so CSV's "
    "NULL/'' conflation cannot bite here.",
)
def sink_scan_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "customer")
    path = _scratch("csv_customer", sf)
    io.sink_csv(src, path, header=False)
    return io.scan_csv(spark, path, schema=src.schema, header=False)


@query(
    "sink_scan_orc_roundtrip",
    oracle="SELECT * FROM supplier",
    section="2.1",
    doc="sink_orc then scan_orc: the lake's second columnar format "
    "round-trips the supplier relation exactly (io.py sink_orc/scan_orc).",
)
def sink_scan_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "supplier")
    path = _scratch("orc_supplier", sf)
    io.sink_orc(src, path)
    return io.scan_orc(spark, path)


@query(
    "sink_scan_jdbc_roundtrip",
    oracle="SELECT * FROM region",
    section="2.1",
    doc="sink_jdbc_replace then scan_jdbc against embedded Derby (the "
    "jars ship with Spark for the Hive metastore): the reference's "
    "to_sql(if_exists='replace') + COPY load and read-back "
    "(dags/create-data-lake.py:38-62). Fresh database dir per call so a "
    "stale embedded-Derby lock can never wedge the query.",
)
def sink_scan_jdbc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "region")
    dbdir = tempfile.mkdtemp(prefix="derby_roundtrip_")
    url = f"jdbc:derby:{dbdir}/lakedb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    io.sink_jdbc_replace(src, url, "region_lake", properties=props, num_partitions=1)
    back = io.scan_jdbc(spark, url, "region_lake", properties=props)
    return _recast(back, src.schema)


# Synthesized caso_full-shaped input: the covid feed's observed states for
# last_available_confirmed_per_100k_inhabitants (dags/create-data-lake.py:74-79)
# plus nullable city/city_ibge_code for the dropna step (:73). Rates are
# integer-cents strings (see module docstring).
_RATE_CASE = """
    CASE WHEN c_custkey % 7 = 0 THEN ''
         WHEN c_custkey % 7 = 1 THEN ' '
         WHEN c_custkey % 7 = 2 THEN NULL
         WHEN c_custkey % 7 = 3 THEN 'not-a-number'
         ELSE CAST(CAST(ROUND(c_acctbal * 100) AS BIGINT) AS VARCHAR) END
"""


@query(
    "etl_covid_pipeline",
    oracle=f"""
    WITH covid AS (
        SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END AS city,
               CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_custkey END AS city_ibge_code,
               {_RATE_CASE} AS last_available_confirmed_per_100k_inhabitants
        FROM customer
    )
    SELECT city,
           city_ibge_code,
           COALESCE(TRY_CAST(NULLIF(TRIM(last_available_confirmed_per_100k_inhabitants), '')
                             AS DOUBLE), 0.0) / 100.0 AS rate_per_100k,
           TRUE AS audit_ok
    FROM covid
    WHERE city IS NOT NULL AND city_ibge_code IS NOT NULL
    """,
    section="2.1",
    doc="The reference's get_data_covid task end-to-end "
    "(dags/create-data-lake.py:64-84): a caso_full-shaped frame is "
    "synthesized from customer, serialized through sink_csv, re-read via "
    "scan_csv, and pushed through covid_pipeline (audit column -> dropna "
    "on city/city_ibge_code -> sentinel-clean the per-100k rate). The "
    "oracle replays the same contamination + cleaning in SQL; the "
    "load-time audit timestamp is checked as a non-null boolean.",
)
def etl_covid_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    k = F.col("c_custkey")
    rate = (
        F.when(k % 7 == 0, "")
        .when(k % 7 == 1, " ")
        .when(k % 7 == 2, None)
        .when(k % 7 == 3, "not-a-number")
        .otherwise(F.round(F.col("c_acctbal") * 100).cast("long").cast("string"))
    )
    covid = T(spark, sf, "customer").select(
        F.when(k % 11 == 0, None).otherwise(F.col("c_mktsegment")).alias("city"),
        F.when(k % 13 == 0, None).otherwise(k).alias("city_ibge_code"),
        rate.alias("last_available_confirmed_per_100k_inhabitants"),
    )
    path = _scratch("covid_csv", sf)
    io.sink_csv(covid, path, header=False)
    raw = io.scan_csv(
        spark,
        path,
        schema=StructType.fromDDL(
            "city string, city_ibge_code bigint, "
            "last_available_confirmed_per_100k_inhabitants string"
        ),
        header=False,
    )
    out = covid_pipeline(raw)
    return out.select(
        "city",
        "city_ibge_code",
        (F.col("last_available_confirmed_per_100k_inhabitants") / F.lit(100.0)).alias(
            "rate_per_100k"
        ),
        F.col("created_at_datalake").isNotNull().alias("audit_ok"),
    )


@query(
    "etl_ibge_pipeline_http",
    oracle="""
    SELECT n_nationkey AS id,
           n_name AS nome,
           r_regionkey AS "regiao.id",
           r_name AS "regiao.sigla",
           TRUE AS audit_ok
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    section="2.1",
    doc="The reference's get_data_api task end-to-end "
    "(dags/create-data-lake.py:87-105): a nested IBGE-shaped JSON payload "
    "(built from nation x region) is served through scan_http_json's "
    "injectable fetch (the reference fetches a ~5,570-row dimension on the "
    "driver too — requests.get at :91), then ibge_pipeline flattens the "
    "structs to dotted columns and stamps the audit timestamp. The "
    "dimension collect is 25 rows by construction, not a data-path "
    "collect.",
)
def etl_ibge_pipeline_http(spark: SparkSession, sf: str) -> DataFrame:
    dims = (
        T(spark, sf, "nation")
        .join(T(spark, sf, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_regionkey", "r_name")
        .collect()
    )
    records = [
        {
            "id": r.n_nationkey,
            "nome": r.n_name,
            "regiao": {"id": r.r_regionkey, "sigla": r.r_name},
        }
        for r in dims
    ]
    body = json.dumps(records)
    raw = io.scan_http_json(spark, "http://ibge.test/localidades", fetch=lambda _u: body)
    out = ibge_pipeline(raw)
    return out.select(
        F.col("id"),
        F.col("nome"),
        F.col("`regiao.id`"),
        F.col("`regiao.sigla`"),
        F.col("created_at_datalake").isNotNull().alias("audit_ok"),
    )


@query(
    "scan_python_datasource",
    oracle="""
    SELECT range AS id,
           ((range * 2654435761) % 1000000) / 100.0 AS score,
           'row_' || CAST(range % 97 AS VARCHAR) AS tag
    FROM range(0, 10000)
    """,
    section="2.1",
    doc="Custom PYTHON data source (Spark 4 pyspark.sql.datasource API, "
    "io.py:register_synthetic_source): a deterministic keyed row stream "
    "read through format('synth_rows') with real InputPartition "
    "parallelism (8 slices, executor-side generation — no driver "
    "collect). Row content is a pure function of the id, so DuckDB "
    "replays the identical stream from range(); the compare certifies "
    "the whole custom-source path: schema declaration, partition "
    "planning, per-partition iteration, Arrow conversion.",
)
def scan_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    io.register_synthetic_source(spark)
    return (
        spark.read.format("synth_rows")
        .option("n", "10000")
        .option("parts", "8")
        .load()
    )


@query(
    "sink_python_datasource_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    section="2.1",
    doc="Custom Python data SINK (Spark 4 DataSourceWriter API, "
    "io.py:register_jsonl_sink): nation is written by executors as "
    "JSON-lines files (one per partition, two-phase commit hooks), then "
    "read back through the ordinary JSON scan with an explicit schema. "
    "The compare against the source rows certifies the full custom "
    "write path: schema hand-off, per-task serialization, commit "
    "protocol, and the read-back parse.",
)
def sink_python_datasource_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import shutil

    io.register_jsonl_sink(spark)
    target = Path(_SCRATCH) / "pysink_nation"
    shutil.rmtree(target, ignore_errors=True)
    target.mkdir(parents=True, exist_ok=True)
    src = T(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    src.write.format("jsonl_sink").option("path", str(target)).mode("append").save()
    return spark.read.schema("n_nationkey bigint, n_name string, n_regionkey bigint").json(
        str(target)
    )


@query(
    "scan_binary_files",
    oracle="""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS name,
           octet_length(content) AS n_bytes,
           substr(hex(content), 1, 8) AS magic
    FROM read_blob('/root/testdata/sf0.001/*.parquet')
    """,
    section="2.1",
    doc="binaryFile source — the ingestion path for OPAQUE payloads "
    "(images/audio/video, SURVEY.md §2.10 multimodal columns): each file "
    "arrives as one row of (path, length, bytes) with no decode attempt, "
    "which is exactly what a 100 TB media pipeline wants before its "
    "mapInPandas feature kernels (llm/multimodal.py). Checked on the "
    "sf0.001 parquet files themselves (read-only, stable): name, byte "
    "count, and the PAR1 magic prefix must agree with DuckDB read_blob.",
)
def scan_binary_files(spark: SparkSession, sf: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .load("/root/testdata/sf0.001/*.parquet")
        .select(
            F.regexp_extract(F.col("path"), "([^/]+)$", 1).alias("name"),
            F.col("length").alias("n_bytes"),
            F.substring(F.hex(F.col("content")), 1, 8).alias("magic"),
        )
    )


@query(
    "scan_file_metadata",
    oracle="""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           COUNT(*) AS n_rows
    FROM read_parquet('/root/testdata/sf0.01/orders.parquet', filename = true)
    GROUP BY 1
    """,
    section="2.1",
    doc="Scan provenance via the hidden _metadata struct: every parquet "
    "row can name the file it came from (file_name, size, mod time) "
    "with zero extra I/O — how a 100 TB pipeline traces a bad record "
    "back to its source file or audits per-file row counts after a "
    "backfill. DuckDB's read_parquet(filename=true) is the oracle "
    "twin. Pinned to the sf0.01 orders file on both sides (the oracle "
    "SQL is static, so the path cannot follow the sf parameter — same "
    "convention as scan_binary_files).",
)
def scan_file_metadata(spark: SparkSession, sf: str) -> DataFrame:
    df = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    return (
        df.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "sink_scan_fixed_width_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section="2.1",
    doc="Fixed-width text roundtrip (io.py sink_fixed_width / "
    "scan_fixed_width) — the mainframe/legacy-feed wire format where "
    "field POSITION is the schema: nation keys and names serialize as "
    "padded 10/25/10 records (numerics left-padded, strings "
    "right-padded, width overflow raises instead of truncating) and "
    "parse back by substring slicing + trim + cast. Pure per-row "
    "codegen'd expressions both directions; the text sink/scan "
    "parallelize like any file source. TPC-H names carry no "
    "leading/trailing spaces, so trim() is lossless here — feeds whose "
    "values can, must widen the spec or switch to a delimited sink.",
)
def sink_scan_fixed_width_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = _scratch("fixedwidth_nation", sf)
    io.sink_fixed_width(
        src, path, {"n_nationkey": 10, "n_name": 25, "n_regionkey": 10}
    )
    return io.scan_fixed_width(
        spark,
        path,
        [("n_nationkey", 10, "bigint"), ("n_name", 25, "string"), ("n_regionkey", 10, "bigint")],
    )


@query(
    "sink_scan_json_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    section="2.1",
    doc="Native JSON-lines sink then scan with explicit schema: the "
    "interchange format half the reference's world speaks (its IBGE "
    "source is JSON; this certifies the engine can also WRITE it "
    "losslessly). Explicit schema on re-read — JSON inference would "
    "widen integers and is an extra scan; the custom Python "
    "DataSource JSONL sink (sink_python_datasource_roundtrip) covers "
    "the extension-point variant of the same wire format.",
)
def sink_scan_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "nation")
    path = _scratch("json_nation", sf)
    src.write.mode("overwrite").json(path)
    return spark.read.schema(src.schema).json(path).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "sink_scan_csv_gzip_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    section="2.1",
    doc="Gzip-compressed CSV roundtrip — the wire format compressed "
    "text feeds actually arrive in. Spark's text sources decompress "
    "by extension transparently; the caveat that matters at 100 TB is "
    "SPLITTABILITY: a .csv.gz file is one stream = one task, so "
    "compressed feeds must arrive as MANY files (this sink writes one "
    "gz per partition, which is exactly that layout) or be landed to "
    "a splittable codec before heavy processing.",
)
def sink_scan_csv_gzip_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = _scratch("csv_gz_supplier", sf)
    src.write.mode("overwrite").option("compression", "gzip").option(
        "header", False
    ).csv(path)
    return spark.read.schema(src.schema).option("header", False).csv(path)


@query(
    "scan_csv_quarantine_malformed",
    oracle="""
    WITH src AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 5 = 0 THEN 'bad'
                  ELSE CAST(n_nationkey * 10 AS VARCHAR) END AS v
      FROM nation
    )
    SELECT CAST(SUM(CASE WHEN v = 'bad' THEN 0 ELSE 1 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN v = 'bad' THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
           CAST(SUM(CASE WHEN v = 'bad' THEN 0
                         ELSE n_nationkey * 10 END) AS BIGINT) AS clean_value_sum
    FROM src
    """,
    section="2.1",
    doc="Malformed-row quarantine on CSV ingest — the robustness pattern "
    "a production feed needs: rows that fail the declared schema land "
    "in the PERMISSIVE-mode corrupt-record column instead of killing "
    "the job or silently vanishing. A CSV is synthesized with a "
    "deterministic 20% of rows carrying a non-numeric value in a "
    "BIGINT field; the scan declares the strict schema plus "
    "_corrupt_record, and the query reports clean/quarantined counts "
    "and the clean-side checksum — which the oracle recomputes from "
    "the corruption rule. (FAILFAST and DROPMALFORMED are the other "
    "two contract modes; PERMISSIVE + quarantine column is the one "
    "that loses nothing.)",
)
def scan_csv_quarantine_malformed(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = T(spark, sf, "nation").select(
        "n_nationkey",
        F.when(F.col("n_nationkey") % 5 == 0, "bad")
        .otherwise((F.col("n_nationkey") * 10).cast("string"))
        .alias("v"),
    )
    path = _scratch("csv_quarantine", sf)
    src.write.mode("overwrite").option("header", False).csv(path)
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("v", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("header", False)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # corrupt-record semantics require materializing the raw columns
    # before aggregation (Spark requires a non-pruned reference);
    # cache-free: a select barrier suffices.
    raw = raw.select("n_nationkey", "v", "_corrupt_record").localCheckpoint(
        eager=False
    )
    return raw.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_clean"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_quarantined"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("v")).otherwise(0))
        .cast("long")
        .alias("clean_value_sum"),
    )


@query(
    "sink_sorted_lake_layout",
    oracle="""
    SELECT 8 AS n_files, 0 AS overlapping_pairs,
           COUNT(*) AS rows_total,
           CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS global_lo,
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS global_hi
    FROM orders
    """,
    section="2.1",
    doc="Range-clustered lake layout: orders written via "
    "repartitionByRange(8, o_totalprice) + sortWithinPartitions — the "
    "data layout that makes min/max parquet footer pruning effective "
    "for range predicates (a filter on price then skips whole files; "
    "the zorder_interleave_key query is the 2-D sibling of this 1-D "
    "layout). repartitionByRange SAMPLES partition bounds — the 100 TB "
    "path, no global sort — and the audit proves the contract the "
    "sample must deliver: re-reading the lake with the _metadata file "
    "column, per-file [min,max] price ranges must be pairwise "
    "NON-overlapping (0 pairs), with the row count and global "
    "min/max preserved. The pairwise audit joins the 8-row per-file "
    "stats frame with itself — dim-sized, not data-sized.",
)
def sink_sorted_lake_layout(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "orders")
    path = _scratch("sorted_lake_orders", sf)
    (
        src.repartitionByRange(8, F.col("o_totalprice"))
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        F.col("_metadata.file_name").alias("f"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    per_file = back.groupBy("f").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"), F.count("*").alias("n")
    )
    a = per_file.alias("a")
    b = per_file.alias("b")
    overlaps = a.join(
        b,
        (F.col("a.f") < F.col("b.f"))
        & (F.col("a.lo") <= F.col("b.hi"))
        & (F.col("b.lo") <= F.col("a.hi")),
    ).agg(F.count("*").alias("overlapping_pairs"))
    stats = per_file.agg(
        F.count("*").alias("n_files"),
        F.sum("n").alias("rows_total"),
        (F.min("lo").cast("double") / F.lit(100.0)).alias("global_lo"),
        (F.max("hi").cast("double") / F.lit(100.0)).alias("global_hi"),
    )
    return stats.crossJoin(overlaps).select(
        F.col("n_files").cast("int").alias("n_files"),
        F.col("overlapping_pairs").cast("int").alias("overlapping_pairs"),
        "rows_total",
        "global_lo",
        "global_hi",
    )


@query(
    "scan_json_rescue",
    oracle="""
    WITH src AS (
      SELECT n_nationkey AS k,
             CASE WHEN n_nationkey % 4 = 0 THEN NULL
                  ELSE n_nationkey * 7 END AS v
      FROM nation
    )
    SELECT CAST(SUM(CASE WHEN v IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rescued,
           CAST(SUM(COALESCE(v, 0)) AS BIGINT) AS clean_value_sum
    FROM src
    """,
    section="2.1",
    doc="Corrupt-line rescue on JSONL ingest — the JSON twin of "
    "scan_csv_quarantine_malformed: a feed is synthesized with a "
    "deterministic 25% of lines TRUNCATED mid-object (the failure mode "
    "real firehose feeds actually produce: a writer died mid-record), "
    "read back in PERMISSIVE mode with a declared schema plus "
    "_corrupt_record, and the query proves nothing is lost: clean rows "
    "parse to typed columns, broken lines land VERBATIM in the rescue "
    "column for replay. The select barrier before aggregation "
    "materializes the corrupt column (Spark refuses to aggregate a "
    "pruned corrupt-record reference). At 100 TB the same scan "
    "shape applies per file split; rescue rows shuffle nowhere — the "
    "audit is a map-side count.",
)
def scan_json_rescue(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = T(spark, sf, "nation").select(
        F.when(
            F.col("n_nationkey") % 4 == 0,
            F.concat(F.lit('{"k": '), F.col("n_nationkey").cast("string"), F.lit(', "v": ')),
        )
        .otherwise(
            F.to_json(
                F.struct(
                    F.col("n_nationkey").alias("k"),
                    (F.col("n_nationkey") * 7).alias("v"),
                )
            )
        )
        .alias("value")
    )
    path = _scratch("json_rescue", sf)
    src.write.mode("overwrite").text(path)
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("v", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    raw = raw.select("k", "v", "_corrupt_record").localCheckpoint(eager=False)
    return raw.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_clean"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_rescued"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("v")).otherwise(0))
        .cast("long")
        .alias("clean_value_sum"),
    )


@query(
    "scan_parquet_merge_schema",
    oracle="""
    SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_with_name_len,
           CAST(SUM(length(n_name)) AS BIGINT) AS name_len_sum,
           CAST(2 AS BIGINT) AS n_batches
    FROM nation
    """,
    section="2.1",
    doc="Schema-evolution scan over a parquet lake: batch=1 was written "
    "before the n_name_len column existed, batch=2 after; the read "
    "declares option(mergeSchema) so Spark reconciles the per-file "
    "footers into the union schema (old files surface the new column "
    "as NULL — no backfill rewrite, the additive-evolution contract "
    "every long-lived lake relies on) and partition discovery "
    "recovers the batch id from the directory name. The audit proves "
    "the old rows are present, NULL-padded, and the new column's "
    "values survived. set_union_evolved_schema covers the same "
    "contract DataFrame-side; this is the STORAGE-side twin. Note "
    "mergeSchema costs a footer read per file — at 100 TB pin the "
    "merged schema in a catalog and pass it explicitly; this scan "
    "shape is the migration-window fallback.",
)
def scan_parquet_merge_schema(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "nation")
    path = _scratch("merge_schema_lake", sf)
    src.select("n_nationkey", "n_name").write.mode("overwrite").parquet(
        path + "/batch=1"
    )
    src.select(
        "n_nationkey",
        "n_name",
        F.length("n_name").cast("long").alias("n_name_len"),
    ).write.mode("overwrite").parquet(path + "/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(path)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_name_len").alias("n_with_name_len"),
        F.sum("n_name_len").alias("name_len_sum"),
        F.countDistinct("batch").alias("n_batches"),
    )


@query(
    "sink_bucketed_join_colocated",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    section="2.1",
    doc="Bucketed-table CO-LOCATED join — the shuffle-elimination "
    "mechanism the 100 TB design leans on: both sides are written with "
    "bucketBy(8, key) + sortBy(key) (external tables, explicit paths), "
    "so at read time Spark knows rows with equal keys share a bucket "
    "file index and plans the SortMergeJoin with NO Exchange on either "
    "side (pinned in tests/test_plans.py). Pre-shuffling once at write "
    "time amortizes the join shuffle across every downstream query — "
    "the batch sibling of join_broadcast (which eliminates the "
    "shuffle only while the dim stays small). The audit is the plain "
    "segment revenue rollup, hash-identical to an unbucketed join.",
)
def sink_bucketed_join_colocated(spark: SparkSession, sf: str) -> DataFrame:
    tag = Path(sf).name.replace(".", "_")
    o_name, c_name = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    from etl_covid19_brasil_spark.operators.bucketing import write_bucketed

    o = T(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = T(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    for df, name, key in ((o, o_name, "o_custkey"), (c, c_name, "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed(
            df, name, [key], num_buckets=8, sort_cols=[key], path=_scratch(name, sf)
        )
    ob, cb = spark.table(o_name), spark.table(c_name)
    # hint("merge"): at test SFs the dim fits the auto-broadcast
    # threshold and Catalyst would pick BroadcastHashJoin, never touching
    # the bucket layout; at 100 TB both sides exceed it and SortMergeJoin
    # is what Catalyst picks anyway — the hint makes the test exercise
    # the plan the design is about (no Exchange on either bucketed side).
    return (
        ob.join(cb.hint("merge"), ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
    )


@query(
    "sink_compact_small_files",
    oracle="""
    SELECT CAST(64 AS BIGINT) AS files_before,
           CAST(4 AS BIGINT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    """,
    section="2.1",
    doc="Small-file compaction as lake maintenance: orders is landed as "
    "64 deliberately tiny files (the shape a per-trigger streaming "
    "sink accretes), then compact_parquet rewrites it to 4 balanced "
    "files through a staged directory swap (crash-safe: two renames "
    "with a recovery copy). The audit proves the operation is "
    "metadata-only from the data's perspective — file count drops "
    "16x, row count and the cents checksum are byte-preserved. At "
    "scan time each file costs a task plus footer/open overhead, so "
    "periodic compaction keeps a 100 TB scan sized by bytes, not by "
    "file count.",
)
def sink_compact_small_files(spark: SparkSession, sf: str) -> DataFrame:
    from etl_covid19_brasil_spark.io import compact_parquet

    src = T(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    path = _scratch("compact_lake", sf)
    src.repartition(64).write.mode("overwrite").parquet(path)
    n_before = len([p for p in Path(path).glob("*.parquet")])
    compact_parquet(spark, path, target_files=4)
    n_after = len([p for p in Path(path).glob("*.parquet")])
    return (
        io.scan_parquet(spark, path)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
        .select(
            F.lit(n_before).cast("long").alias("files_before"),
            F.lit(n_after).cast("long").alias("files_after"),
            "n_rows",
            "total_cents",
        )
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                         THEN 2 * CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END)
                AS BIGINT) AS total_cents
    FROM orders GROUP BY o_orderstatus
    """,
    section="2.1",
    doc="Dynamic partition overwrite — the BACKFILL primitive of a "
    "partitioned lake: with partitionOverwriteMode=dynamic, an "
    "overwrite-mode write replaces ONLY the partitions present in the "
    "incoming frame and leaves every other partition untouched (static "
    "mode would silently drop them — the classic lake data-loss "
    "footgun). The full orders table lands partitioned by status, then "
    "a corrected 'P' slice (prices doubled) is overwritten in; the "
    "audit proves F/O survived byte-identical while P carries the "
    "correction. The mode is a per-write option (io.upsert_partitions), "
    "never the session conf, so a session shared across driver threads "
    "is never left in dynamic mode. At 100 TB "
    "this is exactly how a bad ingestion day is re-landed without "
    "rewriting the lake.",
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = _scratch("dyn_overwrite_lake", sf)
    io.sink_parquet(src, path, partition_by=["o_orderstatus"])
    fix = src.filter(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    io.upsert_partitions(spark, fix, path, partition_by=["o_orderstatus"])
    return (
        io.scan_parquet(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
        .select(F.col("o_orderstatus").cast("string").alias("o_orderstatus"), "n", "total_cents")
    )


@query(
    "etl_ibge_pagination_http",
    oracle="""
    SELECT n_nationkey AS id,
           n_name AS nome,
           r_regionkey AS "regiao.id",
           r_name AS "regiao.sigla",
           TRUE AS audit_ok
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    section="2.1",
    doc="Paginated REST ingest (io.py:scan_http_json_paged): the same "
    "IBGE-shaped dimension as etl_ibge_pipeline_http, but served 10 "
    "rows per page through an injectable fetch that parses the page "
    "query parameter — the loop follows page=1,2,... until the first "
    "empty page (the standard REST cursor contract; a max_pages guard "
    "stops runaway APIs that never return empty). Per-page fetches "
    "carry the same bounded-backoff retry as the single-shot source. "
    "Proves the concatenated landing equals the unpaginated relation "
    "exactly — no dropped tail page, no duplicated boundary row.",
)
def etl_ibge_pagination_http(spark: SparkSession, sf: str) -> DataFrame:
    import urllib.parse

    dims = (
        T(spark, sf, "nation")
        .join(T(spark, sf, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_regionkey", "r_name")
        .collect()
    )
    records = [
        {
            "id": r.n_nationkey,
            "nome": r.n_name,
            "regiao": {"id": r.r_regionkey, "sigla": r.r_name},
        }
        for r in sorted(dims, key=lambda r: r.n_nationkey)
    ]

    def fetch(u: str) -> str:
        qs = urllib.parse.parse_qs(urllib.parse.urlparse(u).query)
        page = int(qs["page"][0])
        size = int(qs["per_page"][0])
        return json.dumps(records[(page - 1) * size : page * size])

    raw = io.scan_http_json_paged(
        spark, "http://ibge.test/localidades", fetch=fetch, page_size=10
    )
    out = ibge_pipeline(raw)
    return out.select(
        F.col("id"),
        F.col("nome"),
        F.col("`regiao.id`"),
        F.col("`regiao.sigla`"),
        F.col("created_at_datalake").isNotNull().alias("audit_ok"),
    )


@query(
    "sink_scan_csv_multiline_roundtrip",
    oracle="""
    SELECT n_nationkey,
           n_name || chr(10) || 'line2 of ' || CAST(n_nationkey AS VARCHAR)
             AS note,
           n_regionkey
    FROM nation
    """,
    section="2.1",
    doc="CSV with EMBEDDED NEWLINES: a text field containing a literal "
    "line break round-trips through quoted CSV only when the reader "
    "parses records, not lines — option(multiLine) is that switch; the "
    "default line-split reader would shred every record in two. The "
    "scale trade is real and documented: multiLine CSV cannot be "
    "split at arbitrary byte offsets (a split boundary can't tell a "
    "record separator from a quoted newline), so each file parses "
    "whole, like the gzip-CSV case (sink_scan_csv_gzip_roundtrip) — "
    "land such feeds to parquet before heavy processing. Quoting and "
    "escaping are Spark's writer defaults; the oracle rebuilds the "
    "expected relation with chr(10) directly.",
)
def sink_scan_csv_multiline_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "nation").select(
        "n_nationkey",
        F.concat(
            F.col("n_name"),
            F.lit("\nline2 of "),
            F.col("n_nationkey").cast("string"),
        ).alias("note"),
        "n_regionkey",
    )
    path = _scratch("csv_multiline", sf)
    src.write.mode("overwrite").option("header", False).csv(path)
    return (
        spark.read.schema(src.schema)
        .option("header", False)
        .option("multiLine", True)
        .csv(path)
    )


@query(
    "scan_recursive_glob",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS n_regions,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    """,
    section="2.1",
    doc="Recursive lake discovery with format filtering: nation is landed "
    "into nested per-region directories (region=<k>/part-*.parquet) "
    "ALONGSIDE decoy sidecar files (_SUCCESS markers, .json manifests, "
    "a stray .csv) — the directory reality of a lake written by many "
    "tools. The scan combines recursiveFileLookup (walk arbitrary "
    "nesting WITHOUT partition discovery) with pathGlobFilter "
    "('*.parquet') so only data files parse; one wrong sidecar read "
    "would poison the relation or kill the scan. The audit proves "
    "exactly the original rows came back and nothing else. Note the "
    "trade vs partition discovery: recursiveFileLookup deliberately "
    "IGNORES directory-name columns (the region key survives inside "
    "the files here), so it suits foreign layouts, while "
    "scan_parquet_merge_schema's discovery path suits owned ones.",
)
def scan_recursive_glob(spark: SparkSession, sf: str) -> DataFrame:
    import shutil

    src = T(spark, sf, "nation")
    base = Path(_scratch("recursive_glob_lake", sf))
    shutil.rmtree(base, ignore_errors=True)
    for r in range(5):
        sub = src.filter(F.col("n_regionkey") == r)
        sub.coalesce(1).write.mode("overwrite").parquet(str(base / f"region={r}" / "data"))
        (base / f"region={r}" / "manifest.json").write_text('{"decoy": true}')
        (base / f"region={r}" / "notes.csv").write_text("a,b\n1,2\n")
    raw = (
        spark.read.option("recursiveFileLookup", True)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(base))
    )
    return raw.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("n_regionkey").alias("n_regions"),
        F.sum("n_nationkey").alias("key_sum"),
    )


@query(
    "scan_csv_latin1",
    oracle="""
    SELECT n_nationkey,
           'Região ' || n_name || ' - São Paulo' AS cidade,
           n_regionkey
    FROM nation
    """,
    section="2.1",
    doc="Legacy single-byte encoding ingest: a CSV is landed as REAL "
    "ISO-8859-1 bytes (accented Portuguese place names — the encoding "
    "Brazilian government feeds like the reference's caso_full "
    "actually shipped in for years) and scanned with "
    "option(encoding, ISO-8859-1); the default UTF-8 read would "
    "mojibake every accent (0xE3 is not valid UTF-8 lead-in) or "
    "null the field. The writer side goes through Python's latin-1 "
    "codec on the driver (25 dim rows — the point is the READER "
    "option), and the oracle rebuilds the expected UTF-8 relation "
    "from nation directly, so one wrong byte anywhere in the "
    "transcode chain fails the hash. At scale the encoding option "
    "applies per-split like any CSV read.",
)
def scan_csv_latin1(spark: SparkSession, sf: str) -> DataFrame:
    import shutil

    from pyspark.sql.types import LongType, StringType, StructField

    src = T(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey").collect()
    base = Path(_scratch("csv_latin1", sf))
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    with open(base / "part-0.csv", "wb") as fh:
        for r in sorted(src, key=lambda r: r.n_nationkey):
            line = f"{r.n_nationkey},Região {r.n_name} - São Paulo,{r.n_regionkey}\n"
            fh.write(line.encode("iso-8859-1", errors="strict"))
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("cidade", StringType()),
            StructField("n_regionkey", LongType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", False)
        .option("encoding", "ISO-8859-1")
        .csv(str(base))
    )


@query(
    "sink_scan_jdbc_partitioned",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer GROUP BY c_mktsegment
    """,
    section="2.1",
    doc="PARTITIONED JDBC read — the parallel-ingest form of the "
    "reference's 'consultas' path: customer lands in Derby, then the "
    "read-back declares partitionColumn/lowerBound/upperBound/"
    "numPartitions(4) so Spark issues four range-predicated queries "
    "concurrently instead of one serial cursor — the difference "
    "between a JDBC source that scales and one that bottlenecks the "
    "whole cluster behind a single connection (bounds need not be "
    "tight: rows outside land in the edge partitions, Spark's "
    "documented contract, exercised here with deliberately loose "
    "bounds). The segment rollup proves the four ranges partition "
    "the table exactly — no row lost or duplicated at the "
    "boundaries.",
)
def sink_scan_jdbc_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    dbdir = tempfile.mkdtemp(prefix="derby_partread_")
    url = f"jdbc:derby:{dbdir}/lakedb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    io.sink_jdbc_replace(src, url, "customer_lake", properties=props, num_partitions=1)
    back = io.scan_jdbc(
        spark,
        url,
        "customer_lake",
        properties=props,
        partition_column="c_custkey",
        lower_bound=10,  # deliberately loose: edge partitions absorb the rest
        upper_bound=1000,
        num_partitions=4,
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("c_acctbal")).alias("acctbal_cents"),
    )


@query(
    "pipeline_lakehouse_maintenance",
    oracle="""
    WITH final AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 10 BETWEEN 1 AND 3
                  THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 // 10
                  ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS val_cents
      FROM orders WHERE o_orderkey % 10 <> 0
    )
    SELECT o_orderpriority, COUNT(*) AS n_rows,
           CAST(SUM(val_cents) AS BIGINT) AS total_cents
    FROM final GROUP BY 1 ORDER BY 1
    """,
    section="2.1",
    doc="The full LAKEHOUSE MAINTENANCE cycle composed end-to-end "
    "against a real on-disk lake (io.py: upsert_partitions + "
    "merge_by_key + compact_parquet): (1) land orders as a "
    "priority-partitioned parquet lake; (2) apply a CDC batch — "
    "deletes (key%10=0, anti-join tombstones) and exact-integer "
    "updates (keys 1-3, cents*11 DIV 10) — by computing each touched "
    "partition's new state, materializing it (localCheckpoint — the "
    "self-overwrite guard), and re-landing via DYNAMIC PARTITION "
    "OVERWRITE, compacting to 4 files per partition in the same "
    "write (merge + compaction in one pass is how partition-grained "
    "lakes amortize maintenance); (3) audit the FINAL ON-DISK "
    "state with a per-partition count+checksum — which must equal the "
    "oracle's logical replay of the same CDC. The physical twin of "
    "cdc_apply_changes: same semantics, but the bytes actually land, "
    "merge, swap and compact on disk.",
)
def pipeline_lakehouse_maintenance(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    from pathlib import Path

    k = F.col("o_orderkey")
    base = T(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents("o_totalprice").alias("val_cents"),
    )
    path = _scratch("lakehouse_maint", sf)
    if Path(path).exists():
        shutil.rmtree(path)
    # (1) land the lake partitioned by priority
    io.upsert_partitions(spark, base, path, ["o_orderpriority"])
    # (2) CDC batch: tombstones + updated rows, merged against the
    # ON-DISK lake, materialized before the self-overwrite
    deletes = base.filter(k % 10 == 0).select("o_orderkey")
    updates = base.filter((k % 10 >= 1) & (k % 10 <= 3)).select(
        "o_orderkey",
        F.expr("val_cents * 11 DIV 10").alias("new_cents"),
    )
    lake = io.scan_parquet(spark, path)
    survivors = lake.join(deletes, "o_orderkey", "left_anti")
    merged = (
        survivors.join(updates, "o_orderkey", "left")  # hint-free: updates grow with the lake (broadcast-discipline, r7)
        .select(
            "o_orderkey",
            F.coalesce("new_cents", "val_cents").alias("val_cents"),
            "o_orderpriority",
        )
        .repartition(4, "o_orderpriority")
        .localCheckpoint(eager=True)
    )
    io.upsert_partitions(spark, merged, path, ["o_orderpriority"])
    # (3) audit the final on-disk state
    return (
        io.scan_parquet(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val_cents").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "sink_manifest_integrity",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS checksum_cents,
           TRUE AS manifest_ok
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    section="2.1",
    doc="MANIFEST-backed lake integrity (the poor-man's transaction log "
    "a plain-parquet lake keeps next to its data): the partitioned "
    "write also lands a JSON manifest of per-partition row counts and "
    "exact-cents checksums (computed ENGINE-side in the same pass "
    "shape as dq_table_checksum, written driver-side — the manifest "
    "is O(partitions)); a reader then re-derives the same stats from "
    "the parquet bytes and verifies them against the manifest — the "
    "detect-partial-write / detect-bitrot audit a format like Delta "
    "gets from its log and raw parquet must bolt on. Output is the "
    "verified per-partition stats with the match flag; any partition "
    "whose bytes disagree with its manifest entry would surface as "
    "manifest_ok = false and break the hash gate.",
)
def sink_manifest_integrity(spark: SparkSession, sf: str) -> DataFrame:
    import json as _json
    import shutil
    from pathlib import Path

    base = T(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", cents("o_totalprice").alias("val_cents")
    )
    path = _scratch("manifest_lake", sf)
    if Path(path).exists():
        shutil.rmtree(path)
    io.upsert_partitions(spark, base, path, ["o_orderpriority"])
    stats = (
        io.scan_parquet(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val_cents").alias("checksum_cents"),
        )
        .collect()
    )
    manifest = {
        r["o_orderpriority"]: {"n_rows": r["n_rows"], "checksum_cents": r["checksum_cents"]}
        for r in stats
    }
    (Path(path) / "_manifest.json").write_text(_json.dumps(manifest, sort_keys=True))

    # verification pass: independent re-derivation vs the stored manifest
    stored = _json.loads((Path(path) / "_manifest.json").read_text())
    mrows = [
        (k, int(v["n_rows"]), int(v["checksum_cents"])) for k, v in stored.items()
    ]
    mdf = F.broadcast(
        spark.createDataFrame(
            mrows, "o_orderpriority string, m_rows long, m_cents long"
        )
    )
    return (
        io.scan_parquet(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val_cents").alias("checksum_cents"),
        )
        .join(mdf, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_rows",
            "checksum_cents",
            (
                (F.col("n_rows") == F.col("m_rows"))
                & (F.col("checksum_cents") == F.col("m_cents"))
            ).alias("manifest_ok"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "sink_scan_csv_multichar_sep_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    section="2.1",
    doc="CSV with a MULTI-CHARACTER delimiter ('||' — the de-facto "
    "format of mainframe/DB2 exports where single chars collide with "
    "data): Spark's univocity parser writes and re-parses multi-char "
    "seps natively (sep option, 3.0+), where naive splitters and many "
    "readers only take one byte. The roundtrip contract matches the "
    "other sink_scan twins: write with sep='||', read back with the "
    "declared schema, recover the exact source relation.",
)
def sink_scan_csv_multichar_sep_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.types import StructType

    n = T(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = _scratch("csv_multisep", sf)
    n.write.mode("overwrite").option("sep", "||").option("header", False).csv(path)
    return (
        spark.read.schema(
            StructType.fromDDL("n_nationkey int, n_name string, n_regionkey int")
        )
        .option("sep", "||")
        .option("header", False)
        .csv(path)
    )


@query(
    "scan_csv_utf8_bom",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    """,
    section="2.1",
    doc="UTF-8 BOM-prefixed CSV ingest: the file is landed with a "
    "LITERAL EF BB BF byte-order mark (what Excel and many Windows "
    "exporters emit), and the scan must parse it transparently — a "
    "reader that doesn't strip the BOM silently corrupts the FIRST "
    "HEADER NAME ('\\ufeffn_nationkey'), the classic why-is-my-first-"
    "column-missing ingest bug. Spark's univocity parser strips it; "
    "the roundtrip recovers the exact source relation with clean "
    "column names (the schema match IS the BOM assertion). Bytes are "
    "staged driver-side because the point is the wire format, not the "
    "write path.",
)
def scan_csv_utf8_bom(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    from pathlib import Path

    rows = (
        T(spark, sf, "nation")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
        .collect()
    )
    path = Path(_scratch("csv_bom", sf))
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    body = "n_nationkey,n_name\n" + "\n".join(
        f"{r['n_nationkey']},{r['n_name']}" for r in rows
    )
    (path / "part.csv").write_bytes(b"\xef\xbb\xbf" + body.encode("utf-8") + b"\n")
    from pyspark.sql.types import StructType

    return (
        spark.read.schema(StructType.fromDDL("n_nationkey int, n_name string"))
        .option("header", True)
        .csv(str(path))
    )


@query(
    "pipeline_pk_quarantine",
    oracle="""
    WITH feed AS (
      SELECT o_orderkey % 5000 AS pk, o_orderkey AS seq,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS val_cents
      FROM orders
    ),
    ranked AS (
      SELECT pk, seq, val_cents,
             ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq) AS rn
      FROM feed
    )
    SELECT CASE WHEN rn = 1 THEN 'clean' ELSE 'quarantine' END AS destination,
           COUNT(*) AS n_rows,
           CAST(SUM(val_cents) AS BIGINT) AS checksum_cents
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
    section="2.1",
    doc="PRIMARY-KEY-violation quarantine — the structural sibling of "
    "scan_csv_quarantine_malformed (that one quarantines rows that "
    "fail the SCHEMA; this one rows that violate a UNIQUENESS "
    "contract): a feed with colliding keys (orderkey mod 5000 — ~3x "
    "fan-in) splits FIRST-ARRIVAL-WINS into the clean table and a "
    "quarantine table, both physically landed as parquet and the "
    "split re-derived from the on-disk bytes. One key-partitioned "
    "window (arrival order = the feed's sequence column, total order "
    "per key, so the split is deterministic), two filtered writes "
    "from one pass, counts + exact checksums per destination.",
)
def pipeline_pk_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    from pathlib import Path

    feed = T(spark, sf, "orders").select(
        (F.col("o_orderkey") % 5000).alias("pk"),
        F.col("o_orderkey").alias("seq"),
        cents("o_totalprice").alias("val_cents"),
    )
    w = Window.partitionBy("pk").orderBy("seq")
    ranked = feed.withColumn("rn", F.row_number().over(w))
    root = Path(_scratch("pk_quarantine", sf))
    if root.exists():
        shutil.rmtree(root)
    ranked.filter(F.col("rn") == 1).drop("rn").write.parquet(str(root / "clean"))
    ranked.filter(F.col("rn") > 1).drop("rn").write.parquet(str(root / "quarantine"))
    clean = io.scan_parquet(spark, str(root / "clean")).withColumn(
        "destination", F.lit("clean")
    )
    quar = io.scan_parquet(spark, str(root / "quarantine")).withColumn(
        "destination", F.lit("quarantine")
    )
    return (
        clean.unionByName(quar)
        .groupBy("destination")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val_cents").alias("checksum_cents"),
        )
        .orderBy("destination")
    )


@query(
    "sink_csv_copy_bulk_load",
    added=9,
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_phone,
           CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 0
                         ELSE LENGTH('PH-' || CAST(c_nationkey AS VARCHAR)) END)
                AS BIGINT) AS phone_chars,
           CAST(SUM(CASE WHEN (c_name || ', "' || c_mktsegment || '" x')
                              LIKE '%"%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quoted_payload,
           CAST(SUM(LENGTH(c_name || ', "' || c_mktsegment || '" x')) AS BIGINT)
             AS payload_chars,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acct_cents
    FROM customer
    """,
    section="2.1",
    doc="COPY-parity BULK LOAD cycle (dags/create-data-lake.py:54-61): "
    "customer rows — with a payload column deliberately full of commas "
    "and embedded double quotes, and a phone column nulled for every "
    "7th key — land as quoted CSV part files via io.sink_csv_for_copy "
    "(which also emits the per-part \\copy script for Postgres); each "
    "part is then BULK-IMPORTED into an embedded-Derby table through "
    "SYSCS_UTIL.SYSCS_IMPORT_TABLE — the same one-call-per-file bulk "
    "path COPY is on Postgres, standing in for the sandbox-unreachable "
    "reference sink — and the read-back is checksummed. The quoted "
    "payload surviving byte-exact (payload_chars + n_quoted_payload) "
    "is the fix-by-construction for the reference's unquoted-comma "
    "COPY corruption (SURVEY.md §2.12); NULL phones surviving as NULL "
    "(not '') pins the NULL-vs-empty wire convention.",
)
def sink_csv_copy_bulk_load(spark: SparkSession, sf: str) -> DataFrame:
    src = T(spark, sf, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_name"), F.lit(', "'), F.col("c_mktsegment"), F.lit('" x')
        ).alias("payload"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("PH-"), F.col("c_nationkey").cast("string")))
        .alias("phone"),
        cents("c_acctbal").alias("acct_cents"),
    )
    land = tempfile.mkdtemp(prefix="copy_land_")
    script = io.sink_csv_for_copy(src, f"{land}/csv", "copy_lake", num_partitions=2)
    # the Postgres half of the contract: the script must name every part
    parts = sorted(Path(f"{land}/csv").glob("part-*.csv"))
    lines = Path(script).read_text().splitlines()
    assert len(lines) == len(parts) > 0, "load script must list every CSV part"
    # Derby stands in for Postgres: same CREATE + one bulk-import per part
    dbdir = tempfile.mkdtemp(prefix="derby_copy_")
    url = f"jdbc:derby:{dbdir}/lakedb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    io.jdbc_execute(
        spark,
        url,
        [
            "CREATE TABLE copy_lake (c_custkey BIGINT, payload VARCHAR(200), "
            "phone VARCHAR(40), acct_cents BIGINT)"
        ]
        + [
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE"
            f"(NULL, 'COPY_LAKE', '{p}', NULL, NULL, 'UTF-8', 0)"
            for p in parts
        ],
    )
    back = io.scan_jdbc(spark, url, "copy_lake", properties=props)
    cols = {c.lower(): c for c in back.columns}
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col(cols["phone"]).isNull(), 1).otherwise(0)
        ).cast("long").alias("n_null_phone"),
        F.sum(
            F.coalesce(F.length(cols["phone"]).cast("long"), F.lit(0))
        ).alias("phone_chars"),
        F.sum(
            F.when(F.col(cols["payload"]).contains('"'), 1).otherwise(0)
        ).cast("long").alias("n_quoted_payload"),
        F.sum(F.length(cols["payload"]).cast("long")).alias("payload_chars"),
        F.sum(cols["acct_cents"]).alias("acct_cents"),
    )
