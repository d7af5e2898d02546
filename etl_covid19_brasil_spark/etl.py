"""REF-parity ETL operators (SURVEY.md §2.1–2.2, phase 1).

Rebuilds the reference's entire cleaning surface as composable, lazy
DataFrame transformations:

- ``with_audit_column``  <- created_at_datalake = datetime.today()
                           (dags/create-data-lake.py:70,100)
- ``drop_null_rows``     <- df.dropna(subset=['city','city_ibge_code'])
                           (dags/create-data-lake.py:73)
- ``replace_sentinels``  <- ''/' '/None/NaN -> 0 in one column
                           (dags/create-data-lake.py:74-79)
- ``clean_numeric``      <- canonical Spark form of the same contract:
                           string-contaminated numeric -> double, blanks
                           and unparsable values -> fill value
- ``flatten_structs``    <- pd.json_normalize dotted flattening
                           (dags/create-data-lake.py:97)
- ``covid_pipeline`` / ``ibge_pipeline`` -- the two reference DAG tasks
  end-to-end (dags/create-data-lake.py:64-84, 87-105)

The reference's ``pd.np.NaN`` crash (dags/create-data-lake.py:78) and its
chained-assignment write (:74) have no analogue here: Spark DataFrames are
immutable and null handling is version-stable (SURVEY.md §2.12).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation
from pyspark.sql.types import StructType


def with_audit_column(df: DataFrame, name: str = "created_at_datalake") -> DataFrame:
    """Append the load-audit timestamp column (dags/create-data-lake.py:70,100).

    ``current_timestamp()`` is evaluated once per query (Catalyst folds it
    to a literal at planning time), so all rows of one load share a single
    timestamp — same observable behavior as the reference's
    ``datetime.today()`` scalar assignment.
    """
    return df.withColumn(name, F.current_timestamp())


def drop_null_rows(df: DataFrame, subset: list[str]) -> DataFrame:
    """Drop rows where ANY column in ``subset`` is null
    (reference: dropna(subset=...), dags/create-data-lake.py:73).

    Expressed as a filter so Catalyst pushes the IsNotNull predicates into
    the scan (PushedFilters in .explain) — the reference always reads and
    then discards (SURVEY.md §4).
    """
    return df.na.drop(how="any", subset=subset)


def replace_sentinels(
    df: DataFrame, column: str, sentinels: tuple[str, ...] = ("", " "), fill: float = 0.0
) -> DataFrame:
    """Literal port of the reference's sentinel map
    ``{'':0, ' ':0, None:0, NaN:0}`` on one column
    (dags/create-data-lake.py:74-79), generalized: listed string sentinels,
    null, and NaN all become ``fill``; other values pass through parsed.
    """
    return clean_numeric(df, column, fill=fill, extra_sentinels=sentinels)


def clean_numeric(
    df: DataFrame,
    column: str,
    fill: float = 0.0,
    extra_sentinels: tuple[str, ...] = (),
) -> DataFrame:
    """Canonical string-contaminated-numeric coercion (SURVEY.md §2.2):

        coalesce(nullif(trim(c), '').cast('double'), fill)

    Handles: ``''``, whitespace-only, NULL, non-numeric junk (cast yields
    NULL under non-ANSI mode), and NaN — all coerced to ``fill``. Entirely
    JVM-side built-ins; no UDF.
    """
    c = F.col(column)
    trimmed = F.trim(c.cast("string"))
    as_num = F.nullif(trimmed, F.lit("")).cast("double")
    for s in extra_sentinels:
        as_num = F.when(trimmed == F.lit(s.strip()) if s.strip() else F.lit(False), None).otherwise(as_num)
    cleaned = F.when(F.isnan(as_num) | as_num.isNull(), F.lit(fill)).otherwise(as_num)
    return df.withColumn(column, cleaned)


def flatten_structs(df: DataFrame, sep: str = ".") -> DataFrame:
    """Recursively flatten nested struct columns to dotted top-level
    columns, exactly as ``pd.json_normalize`` emits them
    (dags/create-data-lake.py:97): ``microrregiao.mesorregiao.UF.sigla``.

    Pure projection — zero shuffle, survives any scale. Arrays are left
    intact (explode is a separate, row-multiplying decision).
    """
    cols = []

    def rec(schema: StructType, prefix: str, path: str) -> None:
        for f in schema.fields:
            qualified = f"{path}`{f.name}`" if path else f"`{f.name}`"
            name = f"{prefix}{f.name}"
            if isinstance(f.dataType, StructType):
                rec(f.dataType, f"{name}{sep}", f"{qualified}.")
            else:
                cols.append(F.col(qualified).alias(name))

    rec(df.schema, "", "")
    return df.select(*cols)


# ---------------------------------------------------------------------------
# The two reference DAG tasks, end-to-end
# ---------------------------------------------------------------------------


def covid_pipeline(raw: DataFrame) -> DataFrame:
    """``get_data_covid`` rebuilt (dags/create-data-lake.py:64-84):
    read -> audit column -> drop null city rows -> sentinel-clean the
    per-100k rate. Input is the raw CSV scan; output is sink-ready.
    """
    df = with_audit_column(raw)
    df = drop_null_rows(df, ["city", "city_ibge_code"])
    df = replace_sentinels(df, "last_available_confirmed_per_100k_inhabitants")
    return df


def ibge_pipeline(raw: DataFrame) -> DataFrame:
    """``get_data_api`` rebuilt (dags/create-data-lake.py:87-105):
    nested JSON records -> dotted flat table -> audit column.
    """
    return with_audit_column(flatten_structs(raw))


def run_tasks_parallel(
    tasks: "dict[str, Callable[[], Any]]",
    retries: int = 0,
    retry_delay_s: float = 0.0,
    on_task_failure: "Callable[[str, int, BaseException], None] | None" = None,
) -> "dict[str, Any]":
    """Width-N parallel task runner with per-task retry — the Airflow
    ``default_args`` semantics the reference DAG declares
    (``retries`` / ``retry_delay`` / failure callback,
    dags/create-data-lake.py:8-20; the reference sets retries=0 and
    disables email, so the DEFAULT here matches its effective
    behavior while a caller can turn the knobs the DAG exposes).

    Tasks are independent (no dependency edges, like the reference's
    two unlinked operators): each runs on its own driver thread, each
    retries on its own clock, and one task's permanent failure does NOT
    cancel the others — every task either returns or exhausts its
    retries before this function raises the FIRST failure (Airflow
    marks the failed task and finishes the rest of the width).
    ``on_task_failure(name, attempt, exc)`` fires per failed attempt —
    the engine-side stand-in for ``email_on_retry``/``email_on_failure``.
    """
    import time
    from concurrent.futures import ThreadPoolExecutor

    def attempt_loop(name: str, fn: "Callable[[], Any]"):
        attempt = 0
        while True:
            attempt += 1
            try:
                return fn()
            except Exception as exc:
                if on_task_failure is not None:
                    on_task_failure(name, attempt, exc)
                if attempt > retries:
                    raise
                time.sleep(retry_delay_s)

    with ThreadPoolExecutor(max_workers=max(1, len(tasks))) as pool:
        futures = {n: pool.submit(attempt_loop, n, fn) for n, fn in tasks.items()}
        results, first_err = {}, None
        for n, f in futures.items():
            try:
                results[n] = f.result()
            except Exception as exc:  # keep draining the other tasks
                first_err = first_err or exc
        if first_err is not None:
            raise first_err
        return results


def run_data_lake(
    covid_raw: DataFrame,
    ibge_raw: DataFrame,
    out_dir: str,
    retries: int = 0,
    retry_delay_s: float = 0.0,
    on_task_failure: "Callable[[str, int, BaseException], None] | None" = None,
) -> dict[str, int]:
    """The whole reference DAG as ONE Spark app, width-2 parallel.

    ``get_data_covid`` and ``get_data_api`` are instantiated with no
    dependency edge (dags/create-data-lake.py:108-109) — Airflow runs
    them concurrently in separate workers. In Spark the same dataflow
    width comes from submitting both sink actions on separate driver
    threads via :func:`run_tasks_parallel` (documented thread-safe
    usage; with a FAIR pool both pipelines make progress even when one
    is long), which also carries the DAG's retry/failure-callback
    semantics. Returns {table: landed row count} after both sinks
    commit, the count observed on the write itself (no re-read of the
    landed table) — the 'covid' and 'microrregioes' tables of the reference
    lake (dags/create-data-lake.py:83,104), parquet standing in for
    Postgres (swap .parquet for .jdbc for exact sink parity,
    io.py:sink_jdbc_replace).
    """
    pipelines = {
        "covid": covid_pipeline(covid_raw),
        "microrregioes": ibge_pipeline(ibge_raw),
    }

    def land(name: str, df: DataFrame) -> "Callable[[], int]":
        def go() -> int:
            # A fresh Observation per attempt: one can observe one write.
            obs = Observation(f"landed_{name}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
                f"{out_dir}/{name}"
            )
            return obs.get["n"]

        return go

    return run_tasks_parallel(
        {n: land(n, df) for n, df in pipelines.items()},
        retries=retries,
        retry_delay_s=retry_delay_s,
        on_task_failure=on_task_failure,
    )
