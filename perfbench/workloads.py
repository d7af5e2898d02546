"""The two workloads: their seeded inputs, their steps, and the checks
on each step's output.

A step is one call into the program's public surface, timed from the
call through full materialization:

* ``noop`` steps build a DataFrame and write it with the noop sink; an
  ``observe`` on the written frame returns the row count and an
  order-insensitive hash in the same job, so checking adds no job;
* ``collect`` steps build a small result and collect it to the client;
* ``call`` steps are sinks themselves (landing, upsert, merge, compact).
"""

from __future__ import annotations

import hashlib
import json
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import gen

# Row counts per workload. "tiny" is the smallest size the benchmark's own
# tests run; "full" is what the benchmark measures.
LAKE_TABLE_SIZES = {
    "full": gen.TableSizes(
        lineitem=60_000, orders=15_000, customer=1_500, part=2_000, supplier=100,
        events=10_000, users=1_500, documents=200, embeddings=200,
    ),
    "tiny": gen.TableSizes(
        lineitem=6_000, orders=1_500, customer=150, part=200, supplier=10,
        events=1_000, users=150, documents=100, embeddings=100,
    ),
}
LLM_SIZES = {
    "full": gen.TableSizes(
        lineitem=6_000, orders=1_500, customer=150, part=200, supplier=10,
        events=1_000, users=150, documents=500, embeddings=500,
    ),
    "tiny": gen.TableSizes(
        lineitem=6_000, orders=1_500, customer=150, part=200, supplier=10,
        events=1_000, users=150, documents=300, embeddings=300,
    ),
}
COVID_SIZES = {
    "full": gen.CovidSizes(cities=600, days=50, upsert_states=1, merge_days=1, microrregioes=558),
    "tiny": gen.CovidSizes(cities=100, days=10, upsert_states=1, merge_days=1, microrregioes=50),
}

# The mixes are sized so that a full evaluation fits its time budget
# (README.md lists what was left out).
LAKE_QUERIES = ("join_inner_revenue",)
LLM_CURATION_QUERIES = (
    "dedup_minhash_components",
    "ann_lsh_topk",
)


@dataclass
class Step:
    name: str
    sink: str  # "noop" | "collect" | "call"
    build: Callable  # () -> DataFrame for noop/collect; () -> value for call
    writes: tuple[str, ...] = ()  # lake tables a call step rewrites
    expect: object = None  # expected collect digest, when known up front


@dataclass
class Workload:
    name: str
    root: Path  # per-seed working directory inside the checkout
    input_bytes: int = 0
    steps: list[Step] = field(default_factory=list)

    def before_pass(self) -> None:
        """Untimed preparation before each pass."""

    def lake_digests(self) -> dict[str, object]:
        """Digests of the lake tables after a pass (none by default)."""
        return {}

    def expected_lake(self) -> dict[str, object]:
        return {}

    def lake_bytes(self) -> int:
        return 0

    def oracle_checks(self, frames: dict) -> dict[str, str]:
        """Step name -> failure detail, for steps with an oracle, given the
        warm-up pass's collected (schema, pandas frame) per step."""
        return {}


def rows_digest(rows) -> tuple[int, str]:
    """Row count and order-insensitive hash of collected rows."""
    lines = sorted(json.dumps(list(r), default=str) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# ---------------------------------------------------------------------------
# Registered query builders over the generated star-schema tables
# ---------------------------------------------------------------------------


class QueryWorkload(Workload):
    """Registered query builders over the generated star-schema tables."""

    def __init__(self, name: str, root: Path, seed: int, sizes: gen.TableSizes, queries) -> None:
        super().__init__(name, root)
        self.tables = root / "tables"
        self.queries = queries
        marker = self.tables / ".complete"
        if not marker.exists():
            gen.write_tables(self.tables, seed, sizes)
            marker.touch()
        self.input_bytes = sum(p.stat().st_size for p in self.tables.glob("*.parquet"))

    def bind(self, spark, specs) -> None:
        sf = str(self.tables)
        self.specs = {q: specs[q] for q in self.queries}
        self.steps = [
            Step(q, "noop", (lambda s=self.specs[q]: s.spark(spark, sf))) for q in self.queries
        ]

    def oracle_checks(self, frames: dict) -> dict[str, str]:
        """The correctness gate ``oracle.check_query`` applies: scalar
        output columns only, then the DuckDB oracle where one is declared."""
        from pyspark.sql.types import ArrayType, MapType

        from etl_covid19_brasil_spark.oracle import compare_frames, duckdb_connection

        con = duckdb_connection(str(self.tables))
        bad = {}
        try:
            for name, spec in self.specs.items():
                if name not in frames:
                    bad[name] = "no output collected"
                    continue
                schema, pdf = frames[name]
                arrays = [f.name for f in schema.fields if isinstance(f.dataType, (ArrayType, MapType))]
                if arrays:
                    bad[name] = f"array/map output columns {arrays}"
                elif spec.oracle is not None:
                    ok, detail = compare_frames(pdf, con.execute(spec.oracle).fetchdf())
                    if not ok:
                        bad[name] = detail
        finally:
            con.close()
        return bad


# ---------------------------------------------------------------------------
# lake: the reference DAG as a lake, updates, consultation, analyst queries
# ---------------------------------------------------------------------------

_KEY_COLS = (
    "city_ibge_code, \"date\", state, last_available_confirmed, "
    "last_available_confirmed_per_100k_inhabitants, new_confirmed, new_deaths"
)
_CHECKSUM = f"SELECT count(*) AS n, sum(hash({_KEY_COLS}) % 1000000007) AS h FROM "


class Lake(QueryWorkload):
    """Land the caso_full CSV and the IBGE JSON, apply upserts and merges,
    compact and consult the lake, then run the analyst queries over the
    star tables. Each pass starts from an empty lake. ``input_bytes`` counts
    the landed inputs only."""

    def __init__(
        self, root: Path, seed: int, sizes: gen.CovidSizes, tables: gen.TableSizes
    ) -> None:
        super().__init__("lake", root, seed, tables, LAKE_QUERIES)
        marker = root / "inputs" / ".complete"
        if marker.exists():
            self.inputs = _existing_covid_inputs(root / "inputs")
        else:
            self.inputs = gen.write_covid_inputs(root / "inputs", seed, sizes)
            marker.touch()
        self.input_bytes = self.inputs.input_bytes
        self.lake = root / "lake"
        self._expected = self._replay()

    def bind(self, spark, specs) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from etl_covid19_brasil_spark import etl, io

        schema = StructType.fromDDL(gen.COVID_DDL)
        lake, inp = str(self.lake), self.inputs

        def covid(path: Path):
            return etl.covid_pipeline(io.scan_csv(spark, str(path), schema=schema))

        def latest_top(t):
            latest = t.agg(F.max("date").alias("date"))
            return (
                t.join(latest, "date")
                .orderBy(F.desc("last_available_confirmed"), "city_ibge_code")
                .select("city_ibge_code", "last_available_confirmed")
                .limit(10)
            )

        steps = [
            Step(
                "land_dag",
                "call",
                lambda: etl.run_data_lake(
                    io.scan_csv(spark, str(inp.csv), schema=schema),
                    io.scan_json(spark, str(inp.ibge_json)),
                    lake,
                ),
                writes=("covid", "microrregioes"),
            ),
            Step(
                "land_by_state",
                "call",
                lambda: io.sink_parquet(covid(inp.csv), f"{lake}/covid_by_state", partition_by=["state"]),
                writes=("covid_by_state",),
            ),
        ]
        for i, p in enumerate(inp.upserts):
            steps.append(
                Step(
                    f"upsert_{i}",
                    "call",
                    lambda p=p: io.upsert_partitions(spark, covid(p), f"{lake}/covid_by_state", ["state"]),
                    writes=("covid_by_state",),
                )
            )
        for i, p in enumerate(inp.merges):
            steps.append(
                Step(
                    f"merge_{i}",
                    "call",
                    lambda p=p: io.merge_by_key(spark, covid(p), f"{lake}/covid", ["city_ibge_code", "date"]),
                    writes=("covid",),
                )
            )
        steps.append(
            Step("compact", "call", lambda: io.compact_parquet(spark, f"{lake}/covid", 4), writes=("covid",))
        )
        steps.append(
            Step(
                "consult_state_totals",
                "collect",
                lambda: io.scan_parquet(spark, f"{lake}/covid_by_state")
                .groupBy("state")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("new_confirmed").alias("new_confirmed"),
                    F.max("date").alias("last_date"),
                ),
                expect=self._expected["consult_state_totals"],
            )
        )
        steps.append(
            Step(
                "consult_latest_top",
                "collect",
                lambda: latest_top(io.scan_parquet(spark, f"{lake}/covid")),
                expect=self._expected["consult_latest_top"],
            )
        )
        super().bind(spark, specs)
        self.steps = steps + self.steps

    def before_pass(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)
        self.lake.mkdir(parents=True)

    # -- checks ------------------------------------------------------------

    def _replay(self) -> dict[str, object]:
        """Expected lake contents and consultation answers, computed by
        DuckDB from the generated inputs alone."""
        import duckdb

        con = duckdb.connect()
        try:
            types = ", ".join(
                f"'{c}': '{t}'"
                for c, t in (
                    part.split(" ", 1) for part in (x.strip() for x in gen.COVID_DDL.split(","))
                )
            )
            types = types.replace("'string'", "'VARCHAR'").replace("'bigint'", "'BIGINT'").replace(
                "'date'", "'DATE'"
            )

            def clean(path: Path) -> str:
                return f"""
                    SELECT * REPLACE (
                        CASE WHEN r IS NULL OR isnan(r) THEN 0.0 ELSE r END
                          AS last_available_confirmed_per_100k_inhabitants)
                    FROM (SELECT *, TRY_CAST(NULLIF(TRIM(
                            last_available_confirmed_per_100k_inhabitants), '') AS DOUBLE) AS r
                          FROM read_csv('{path}', header=true, columns={{{types}}}))
                    WHERE city IS NOT NULL AND city_ibge_code IS NOT NULL"""

            cols = "city_ibge_code, date, state, last_available_confirmed, " \
                "last_available_confirmed_per_100k_inhabitants, new_confirmed, new_deaths"
            con.execute(f"CREATE TABLE covid AS SELECT {cols} FROM ({clean(self.inputs.csv)})")
            con.execute("CREATE TABLE by_state AS SELECT * FROM covid")
            for p in self.inputs.upserts:
                con.execute(f"CREATE OR REPLACE TEMP TABLE b AS SELECT {cols} FROM ({clean(p)})")
                con.execute(
                    "CREATE OR REPLACE TABLE by_state AS SELECT * FROM by_state "
                    "WHERE state NOT IN (SELECT DISTINCT state FROM b) UNION ALL SELECT * FROM b"
                )
            for p in self.inputs.merges:
                con.execute(f"CREATE OR REPLACE TEMP TABLE b AS SELECT {cols} FROM ({clean(p)})")
                con.execute(
                    "CREATE OR REPLACE TABLE covid AS SELECT * FROM covid c WHERE NOT EXISTS "
                    "(SELECT 1 FROM b WHERE b.city_ibge_code = c.city_ibge_code AND b.date = c.date) "
                    "UNION ALL SELECT * FROM b"
                )
            out: dict[str, object] = {
                "covid": tuple(con.execute(_CHECKSUM + "covid").fetchone()),
                "covid_by_state": tuple(con.execute(_CHECKSUM + "by_state").fetchone()),
            }
            out["consult_state_totals"] = rows_digest(
                con.execute(
                    "SELECT state, count(*), sum(new_confirmed), max(date) FROM by_state GROUP BY 1"
                ).fetchall()
            )
            out["consult_latest_top"] = rows_digest(
                con.execute(
                    "SELECT city_ibge_code, last_available_confirmed FROM covid "
                    "WHERE date = (SELECT max(date) FROM covid) "
                    "ORDER BY last_available_confirmed DESC, city_ibge_code LIMIT 10"
                ).fetchall()
            )
        finally:
            con.close()
        records = json.loads(self.inputs.ibge_json.read_text())
        out["microrregioes"] = rows_digest(
            (r["id"], r["mesorregiao"]["UF"]["sigla"]) for r in records
        )
        return out

    def expected_lake(self) -> dict[str, object]:
        return {k: self._expected[k] for k in ("covid", "covid_by_state", "microrregioes")}

    def lake_digests(self) -> dict[str, object]:
        import duckdb

        con = duckdb.connect()
        try:
            lake = self.lake
            return {
                "covid": tuple(
                    con.execute(_CHECKSUM + f"read_parquet('{lake}/covid/*.parquet')").fetchone()
                ),
                "covid_by_state": tuple(
                    con.execute(
                        _CHECKSUM
                        + f"read_parquet('{lake}/covid_by_state/*/*.parquet', hive_partitioning=true)"
                    ).fetchone()
                ),
                "microrregioes": rows_digest(
                    con.execute(
                        f"SELECT id, \"mesorregiao.UF.sigla\" "
                        f"FROM read_parquet('{lake}/microrregioes/*.parquet')"
                    ).fetchall()
                ),
            }
        finally:
            con.close()

    def lake_bytes(self) -> int:
        return sum(p.stat().st_size for p in self.lake.rglob("*") if p.is_file())


def _existing_covid_inputs(d: Path) -> gen.CovidInputs:
    files = [p for p in d.iterdir() if p.is_file() and not p.name.startswith(".")]
    return gen.CovidInputs(
        csv=d / "caso_full.csv",
        ibge_json=d / "microrregioes.json",
        upserts=tuple(sorted(d.glob("upsert_*.csv"))),
        merges=tuple(sorted(d.glob("merge_*.csv"))),
        input_bytes=sum(p.stat().st_size for p in files),
    )


WORKLOADS = ("lake", "llm_curation")


def make(name: str, root: Path, seed: int, size: str) -> Workload:
    if name == "lake":
        return Lake(root, seed, COVID_SIZES[size], LAKE_TABLE_SIZES[size])
    if name == "llm_curation":
        return QueryWorkload(name, root, seed, LLM_SIZES[size], LLM_CURATION_QUERIES)
    raise ValueError(f"unknown workload: {name}")
