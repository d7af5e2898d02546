"""REF-parity golden tests (SURVEY.md §5 layer 2) + property-based null
coercion (layer 3).

Fixtures reconstruct the reference's two inputs in miniature (FIXTURES.md
§A): a ``caso_full``-shaped CSV with nulls and a string-contaminated
numeric column, and the nested IBGE municipality JSON. The goldens pin the
reference's cleaning semantics: dropna on city/city_ibge_code
(dags/create-data-lake.py:73), sentinel->0 on the per-100k rate (:74-79),
the audit timestamp (:70,100), and json_normalize dotted flattening (:97).
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_covid19_brasil_spark import etl
from etl_covid19_brasil_spark.io import scan_csv, scan_http_json
from tests.conftest import jobs_submitted

RATE = "last_available_confirmed_per_100k_inhabitants"

COVID_CSV = """city,city_ibge_code,date,state,last_available_confirmed,{rate}
São Paulo,3550308,2020-05-01,SP,1000,95.5
,,2020-05-01,SP,50000,420.7
Campinas,3509502,2020-05-01,SP,500,
Santos,3548500,2020-05-01,SP,300,
Niterói,3303302,2020-05-01,RJ,200,
Rio de Janeiro,3304557,2020-05-01,RJ,800,63.25
""".format(rate=RATE)
# row 2: state-level row (null city + code)      -> dropped
# row 3/4: empty rate (CSV null)                 -> 0.0
# row 5: single-space rate (the ' ' sentinel)    -> 0.0

IBGE_RECORD = {
    "id": 3550308,
    "nome": "São Paulo",
    "microrregiao": {
        "id": 35061,
        "nome": "São Paulo",
        "mesorregiao": {
            "id": 3515,
            "nome": "Metropolitana de São Paulo",
            "UF": {"id": 35, "sigla": "SP", "nome": "São Paulo"},
        },
    },
}


@pytest.fixture(scope="module")
def covid_raw(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("covid") / "caso_full.csv"
    p.write_text(COVID_CSV, encoding="utf-8")
    return scan_csv(spark, str(p))


def test_covid_pipeline_golden(spark, covid_raw):
    out = etl.covid_pipeline(covid_raw)
    rows = {r["city"]: r.asDict() for r in out.collect()}

    # dropna subset semantics: the state-level row is gone, nothing else
    assert set(rows) == {"São Paulo", "Campinas", "Santos", "Niterói", "Rio de Janeiro"}
    # sentinel coercion: blank/space -> 0.0, real values parsed
    assert rows["Campinas"][RATE] == 0.0
    assert rows["Santos"][RATE] == 0.0
    assert rows["Niterói"][RATE] == 0.0
    assert rows["São Paulo"][RATE] == 95.5
    assert rows["Rio de Janeiro"][RATE] == 63.25
    # audit column: one shared timestamp for the whole load
    stamps = {r["created_at_datalake"] for r in rows.values()}
    assert len(stamps) == 1 and None not in stamps
    # untouched columns pass through
    assert rows["São Paulo"]["last_available_confirmed"] == 1000


def test_ibge_pipeline_flattens_dotted(spark):
    raw = scan_http_json(
        spark, "http://fixture", fetch=lambda _u: json.dumps([IBGE_RECORD])
    )
    out = etl.ibge_pipeline(raw)
    assert "microrregiao.mesorregiao.UF.sigla" in out.columns
    assert "created_at_datalake" in out.columns
    row = out.collect()[0]
    assert row["microrregiao.mesorregiao.UF.sigla"] == "SP"
    assert row["id"] == 3550308
    # no struct columns survive (pure flat relation, like json_normalize)
    assert not any("struct" in t for _, t in out.dtypes)


@given(
    values=st.lists(
        st.one_of(
            st.none(),
            st.just(""),
            st.just(" "),
            st.just("   "),
            st.just("junk"),
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ).map(lambda f: str(round(f, 4))),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_clean_numeric_property(spark_global, values):
    """clean_numeric == the reference's sentinel contract for ANY mix of
    blanks/None/junk/parsable strings (the part the reference got
    version-fragile with pd.np.NaN, SURVEY.md §2.12)."""
    df = spark_global.createDataFrame([(v,) for v in values], "x string")
    got = [r["x"] for r in etl.clean_numeric(df, "x").collect()]
    want = []
    for v in values:
        try:
            want.append(float(v.strip()) if v is not None and v.strip() else 0.0)
        except (ValueError, AttributeError):
            want.append(0.0)
    assert got == want


@pytest.fixture(scope="session")
def spark_global(spark):
    # hypothesis forbids function-scoped fixtures; alias the session one
    return spark


def test_run_data_lake_lands_both_tables_concurrently(spark, covid_raw, tmp_path):
    """The reference DAG's two independent tasks run width-2 in one Spark
    app (dags/create-data-lake.py:108-109): both sinks must land with the
    same contents the sequential pipelines produce."""
    ibge_raw = scan_http_json(
        spark, "http://fixture", fetch=lambda _u: json.dumps([IBGE_RECORD])
    )
    got = etl.run_data_lake(covid_raw, ibge_raw, str(tmp_path / "lake"))
    assert set(got) == {"covid", "microrregioes"}
    assert got["covid"] == etl.covid_pipeline(covid_raw).count()
    assert got["microrregioes"] == etl.ibge_pipeline(ibge_raw).count()
    landed = spark.read.parquet(str(tmp_path / "lake" / "covid"))
    assert "created_at_datalake" in landed.columns


def test_run_data_lake_counts_rows_in_the_write(spark, covid_raw, tmp_path):
    """The landed counts are observed on the writes themselves: one job
    per table, the write, and no re-read of the landed parquet (jobs
    counted across run_tasks_parallel's threads)."""
    ibge_raw = scan_http_json(
        spark, "http://fixture", fetch=lambda _u: json.dumps([IBGE_RECORD] * 3)
    )
    with jobs_submitted(spark) as c:
        got = etl.run_data_lake(covid_raw, ibge_raw, str(tmp_path / "lake"))
    assert got == {"covid": 5, "microrregioes": 3}
    assert c.jobs == 2
    for name, n in got.items():
        assert spark.read.parquet(str(tmp_path / "lake" / name)).count() == n


def test_run_data_lake_counts_zero_for_empty_input(spark, covid_raw, tmp_path):
    """An empty covid input lands an empty table and counts 0 — the
    observed metric still arrives when no row reaches the write."""
    import threading

    import pyspark.sql.functions as F

    ibge_raw = scan_http_json(
        spark, "http://fixture", fetch=lambda _u: json.dumps([IBGE_RECORD])
    )
    out: dict = {}
    empties = {"limit0": covid_raw.limit(0), "filtered": covid_raw.filter(F.lit(False))}
    for name, empty in empties.items():
        t = threading.Thread(
            target=lambda e=empty, n=name: out.update(
                {n: etl.run_data_lake(e, ibge_raw, str(tmp_path / n))}
            ),
            daemon=True,
        )
        t.start()
        t.join(timeout=300)
        assert not t.is_alive(), f"run_data_lake hung on the {name} input"
    assert out["limit0"] == out["filtered"] == {"covid": 0, "microrregioes": 1}


def test_run_tasks_parallel_retries_transient_failures():
    """The Airflow default_args semantics the reference DAG declares
    (retries / retry_delay / failure callback, dags/create-data-lake.py:
    8-20): a transiently-failing task succeeds within its retry budget,
    and the callback sees each failed attempt."""
    from etl_covid19_brasil_spark import etl

    calls = {"n": 0}
    seen = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    got = etl.run_tasks_parallel(
        {"flaky": flaky, "steady": lambda: 42},
        retries=3,
        retry_delay_s=0.0,
        on_task_failure=lambda name, attempt, exc: seen.append((name, attempt)),
    )
    assert got == {"flaky": "ok", "steady": 42}
    assert seen == [("flaky", 1), ("flaky", 2)]


def test_run_tasks_parallel_failure_does_not_cancel_siblings():
    """One task exhausting its retries raises AFTER the width drains —
    the sibling task still completes (Airflow: independent tasks run to
    their own terminal state)."""
    import pytest as _pytest

    from etl_covid19_brasil_spark import etl

    landed = []

    def always_fails():
        raise RuntimeError("permanent")

    def lands():
        landed.append(True)
        return 1

    with _pytest.raises(RuntimeError, match="permanent"):
        etl.run_tasks_parallel(
            {"bad": always_fails, "good": lands}, retries=1, retry_delay_s=0.0
        )
    assert landed == [True]
