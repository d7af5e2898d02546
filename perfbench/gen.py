"""Seeded input generation for the benchmark.

Everything the program reads is made here from ``--seed``: the same seed
gives byte-identical files. Two families of inputs:

* ``write_tables`` -- the star-schema test tables (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings) as single-row-group parquet files, with the column names,
  types and value domains of the sf0.1 test tables. The seed drives
  both the values and the row order.
* ``write_covid_inputs`` -- a Brasil.IO ``caso_full``-shaped CSV, an
  IBGE-shaped nested JSON array of microrregioes, and the daily update
  batches the lake workload applies to them.

Only numpy, pyarrow and the standard library are used, so generation runs
before any Spark JVM exists.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TABLES = (
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


@dataclass(frozen=True)
class TableSizes:
    """Row counts of the generated star-schema tables."""

    lineitem: int
    orders: int
    customer: int
    part: int
    supplier: int
    events: int
    users: int
    documents: int
    embeddings: int
    dim: int = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal money values (exact integer cents / 100)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(start: str, rng: np.random.Generator, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _shuffled(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw")


def write_tables(out_dir: Path, seed: int, n: TableSizes) -> None:
    """Write the ten star-schema tables for ``seed`` into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    out_dir.mkdir(parents=True, exist_ok=True)
    ts = pa.timestamp("us")

    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        out_dir / "region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        out_dir / "nation.parquet",
    )

    ck = np.arange(n.customer)
    customer = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n.customer), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n.customer),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n.customer)],
        }
    )
    _write(_shuffled(rng, customer), out_dir / "customer.parquet")

    sk = np.arange(n.supplier)
    supplier = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n.supplier), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n.supplier),
        }
    )
    _write(_shuffled(rng, supplier), out_dir / "supplier.parquet")

    pk = np.arange(n.part)
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    part = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names[rng.integers(0, len(names), n.part)],
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n.part).astype(str)),
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                rng.integers(0, 6, n.part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n.part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    _write(_shuffled(rng, part), out_dir / "part.parquet")

    ok = np.arange(n.orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n.customer, n.orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n.orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n.orders),
            "o_orderdate": pa.array(_days("1995-01-01", rng, 2404, n.orders), ts),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n.orders)],
        }
    )
    _write(_shuffled(rng, orders), out_dir / "orders.parquet")

    m = n.lineitem
    qty = rng.integers(1, 51, m).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n.orders, m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n.part, m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n.supplier, m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
            "l_shipdate": pa.array(_days("1995-01-02", rng, 2497, m), ts),
        }
    )
    _write(lineitem, out_dir / "lineitem.parquet")

    e = n.events
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, e)).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(start + offs, ts),
            "user_id": pa.array(rng.integers(0, n.users, e), pa.int64()),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, e)
            ],
            "value": _money(rng, 0.0, 560.0, e),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    _write(events, out_dir / "events.parquet")

    d = n.documents
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(10, 100, d)
    ]
    # One document in twenty copies another one plus a marker token: the
    # near-duplicate pairs the dedup operators exist to find. Copies and
    # originals are disjoint, so every duplicate group is a pair and the
    # iterative operators run the same number of rounds for every seed.
    order = rng.permutation(d)
    n_dup = d // 20
    for copy, orig in zip(order[:n_dup], order[n_dup : 2 * n_dup]):
        texts[copy] = texts[orig] + " dup"
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, d)]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(d), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(_shuffled(rng, documents), out_dir / "documents.parquet")

    v = rng.standard_normal((n.embeddings, n.dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n.embeddings), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), n.dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n.embeddings), pa.int32()),
        }
    )
    _write(_shuffled(rng, embeddings), out_dir / "embeddings.parquet")


# ---------------------------------------------------------------------------
# caso_full CSV, IBGE JSON and update batches
# ---------------------------------------------------------------------------

# (IBGE code, sigla, region id, region sigla) of the 27 federative units.
UFS = (
    (11, "RO", 1, "N"), (12, "AC", 1, "N"), (13, "AM", 1, "N"), (14, "RR", 1, "N"),
    (15, "PA", 1, "N"), (16, "AP", 1, "N"), (17, "TO", 1, "N"), (21, "MA", 2, "NE"),
    (22, "PI", 2, "NE"), (23, "CE", 2, "NE"), (24, "RN", 2, "NE"), (25, "PB", 2, "NE"),
    (26, "PE", 2, "NE"), (27, "AL", 2, "NE"), (28, "SE", 2, "NE"), (29, "BA", 2, "NE"),
    (31, "MG", 3, "SE"), (32, "ES", 3, "SE"), (33, "RJ", 3, "SE"), (35, "SP", 3, "SE"),
    (41, "PR", 4, "S"), (42, "SC", 4, "S"), (43, "RS", 4, "S"), (50, "MS", 5, "CO"),
    (51, "MT", 5, "CO"), (52, "GO", 5, "CO"), (53, "DF", 5, "CO"),
)

# Explicit scan schema (no inference pre-scan), as production paths pass.
COVID_DDL = (
    "city string, city_ibge_code bigint, date date, state string, "
    "place_type string, estimated_population bigint, "
    "last_available_confirmed bigint, "
    "last_available_confirmed_per_100k_inhabitants string, "
    "last_available_deaths bigint, new_confirmed bigint, new_deaths bigint"
)


@dataclass(frozen=True)
class CovidSizes:
    cities: int  # municipalities; each also gets its state's daily row
    days: int  # days of history in the initial extract
    upsert_states: int  # re-extracted states, one upsert each
    merge_days: int  # daily batches merged by key, one merge each
    microrregioes: int


@dataclass(frozen=True)
class CovidInputs:
    csv: Path
    ibge_json: Path
    upserts: tuple[Path, ...]  # full re-extracts of one state each
    merges: tuple[Path, ...]  # one new day plus corrections each
    input_bytes: int


def _covid_rows(
    rng: np.random.Generator,
    codes: np.ndarray,
    states: np.ndarray,
    pops: np.ndarray,
    place: np.ndarray,
    day_idx: np.ndarray,
) -> pa.Table:
    """One caso_full row per (place, day) pair in ``codes`` x ``day_idx``.

    State-level rows carry an empty city, as in Brasil.IO, so the
    pipeline's null-city filter has work to do. The per-100k rate is a
    string column with blank and single-space sentinels mixed in.
    """
    n = len(codes)
    conf = rng.integers(0, 200_000, n)
    rate = np.round(conf / np.maximum(pops, 1) * 100_000.0, 2).astype(str).astype(object)
    u = rng.random(n)
    rate[u < 0.03] = ""
    rate[(u >= 0.03) & (u < 0.05)] = " "
    city = np.where(place == "city", np.char.add("city_", codes.astype(str)), None)
    date = np.datetime64("2020-03-01") + day_idx.astype("timedelta64[D]")
    return pa.table(
        {
            "city": pa.array(city, pa.string()),
            "city_ibge_code": pa.array(codes, pa.int64()),
            "date": pa.array(date, pa.date32()),
            "state": states,
            "place_type": place,
            "estimated_population": pa.array(pops, pa.int64()),
            "last_available_confirmed": pa.array(conf, pa.int64()),
            "last_available_confirmed_per_100k_inhabitants": pa.array(rate, pa.string()),
            "last_available_deaths": pa.array(conf // 50, pa.int64()),
            "new_confirmed": pa.array(rng.integers(-10, 500, n), pa.int64()),
            "new_deaths": pa.array(rng.integers(0, 20, n), pa.int64()),
        }
    )


def _write_csv(table: pa.Table, path: Path) -> int:
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))
    return path.stat().st_size


def write_covid_inputs(out_dir: Path, seed: int, n: CovidSizes) -> CovidInputs:
    """Write the caso_full CSV, the IBGE JSON and the update batches."""
    rng = np.random.default_rng([seed, 2])
    out_dir.mkdir(parents=True, exist_ok=True)
    uf = rng.integers(0, len(UFS), n.cities)
    uf_code = np.array([u[0] for u in UFS])
    uf_sigla = np.array([u[1] for u in UFS])
    city_codes = uf_code[uf] * 100_000 + rng.choice(99_999, n.cities, replace=False)
    # Places: every municipality, plus one state-level row per state.
    codes = np.concatenate([city_codes, uf_code])
    states = np.concatenate([uf_sigla[uf], uf_sigla])
    place = np.array(["city"] * n.cities + ["state"] * len(UFS))
    pops = np.concatenate(
        [rng.integers(1_000, 2_000_000, n.cities), rng.integers(500_000, 40_000_000, len(UFS))]
    )

    def rows(place_mask: np.ndarray, day_idx: np.ndarray) -> pa.Table:
        p = np.flatnonzero(place_mask)
        pi = np.repeat(p, len(day_idx))
        di = np.tile(day_idx, len(p))
        return _covid_rows(rng, codes[pi], states[pi], pops[pi], place[pi], di)

    everywhere = np.ones(len(codes), bool)
    base = rows(everywhere, np.arange(n.days))
    base = _shuffled(rng, base)
    csv = out_dir / "caso_full.csv"
    total = _write_csv(base, csv)

    upserts = []
    for i, s in enumerate(rng.choice(len(UFS), n.upsert_states, replace=False)):
        t = rows(states == UFS[s][1], np.arange(n.days))
        p = out_dir / f"upsert_{i}.csv"
        total += _write_csv(t, p)
        upserts.append(p)

    merges = []
    for i in range(n.merge_days):
        new_day = rows(everywhere, np.array([n.days + i]))
        # Corrections: re-published values for a few hundred known keys.
        k = min(len(codes), 300)
        fix_places = rng.choice(len(codes), k, replace=False)
        fix_days = rng.integers(0, n.days, k)
        fixes = _covid_rows(
            rng, codes[fix_places], states[fix_places], pops[fix_places],
            place[fix_places], fix_days,
        )
        p = out_dir / f"merge_{i}.csv"
        total += _write_csv(pa.concat_tables([new_day, fixes]), p)
        merges.append(p)

    records = []
    for i in range(n.microrregioes):
        code, sigla, reg, reg_sigla = UFS[int(rng.integers(0, len(UFS)))]
        meso = code * 100 + int(rng.integers(1, 10))
        records.append(
            {
                "id": meso * 1000 + i,
                "nome": f"Microrregiao {i}",
                "mesorregiao": {
                    "id": meso,
                    "nome": f"Mesorregiao {meso}",
                    "UF": {
                        "id": code,
                        "sigla": sigla,
                        "nome": f"Estado {sigla}",
                        "regiao": {"id": reg, "sigla": reg_sigla, "nome": f"Regiao {reg_sigla}"},
                    },
                },
            }
        )
    ibge = out_dir / "microrregioes.json"
    ibge.write_text(json.dumps(records, ensure_ascii=False))
    total += ibge.stat().st_size
    return CovidInputs(csv, ibge, tuple(upserts), tuple(merges), total)
