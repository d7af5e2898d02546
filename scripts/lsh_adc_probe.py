#!/usr/bin/env python
"""r16 probe (VERDICT r15 item 3) — LSH ADC budget tier economics at the
8x flat split, one quiet-box run, one JSON line, consumed by
SCALECHECK_r16:

- MEASURED shuffle write bytes (Spark REST stage metrics, summed over
  the stages each form's materialization triggers) for the full-vector
  lsh_search vs the ADC-coded lsh_adc_search — the banded index rows
  are the dominant contributor, so the total-byte ratio bounds the
  claimed payload saving from below;
- wall-clock of both forms (noop-write materialization);
- recall of the ADC form vs the full-vector form it replaces, and of
  both vs the exact reference.
"""
from __future__ import annotations

import json
import shutil
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

from etl_covid19_brasil_spark import get_spark  # noqa: E402
from etl_covid19_brasil_spark.io import load_table  # noqa: E402
from scripts.scale_check import build_scaled_dir  # noqa: E402


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.loads(r.read())


def _shuffle_write_bytes(spark) -> int:
    return sum(
        s.get("shuffleWriteBytes", 0)
        for s in _rest(spark, "/stages?status=complete")
    )


def _noop_time(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _pairs(df) -> set:
    return {(int(r.query_id), int(r.neighbor_id)) for r in df.toPandas().itertuples()}


def main() -> None:
    from etl_covid19_brasil_spark.llm.search import (
        ann_search,
        lsh_adc_search,
        lsh_search,
    )

    spark = get_spark(
        app_name="lsh-adc-probe", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}

    path = build_scaled_dir(spark, 8, tables=("embeddings",))
    emb = load_table(spark, path, "embeddings").cache()
    n = emb.count()
    q = emb.filter(F.col("vec_id") % 20 == 0)
    i = emb.filter(F.col("vec_id") % 20 != 0)
    ni = i.count()
    out["split"] = {"n": n, "n_index": ni}

    ref = _pairs(ann_search(q, i, k=5, n_index=ni))

    b0 = _shuffle_write_bytes(spark)
    full_df = lsh_search(q, i, k=5)
    sec_full = _noop_time(full_df)
    b1 = _shuffle_write_bytes(spark)
    full = _pairs(lsh_search(q, i, k=5))

    b2 = _shuffle_write_bytes(spark)
    adc_df = lsh_adc_search(q, i, k=5)
    sec_adc = _noop_time(adc_df)
    b3 = _shuffle_write_bytes(spark)
    adc = _pairs(lsh_adc_search(q, i, k=5))

    out["lsh_adc_8x_flat"] = {
        "full_vector_sec": sec_full,
        "adc_sec": sec_adc,
        "full_vector_shuffle_bytes": b1 - b0,
        "adc_shuffle_bytes": b3 - b2,
        "shuffle_bytes_ratio": round((b1 - b0) / max(1, b3 - b2), 2),
        "full_recall_vs_exact": round(len(full & ref) / len(ref), 4),
        "adc_recall_vs_exact": round(len(adc & ref) / len(ref), 4),
        "adc_recall_vs_full": round(len(adc & full) / len(full), 4),
    }
    print(f"# lsh_adc_8x_flat: {out['lsh_adc_8x_flat']}", file=sys.stderr)

    # ---- index-heavy split (1% queries): the regime the budget tier
    # exists for — the banded INDEX rows dominate the shuffle, so the
    # total-byte ratio approaches the per-row payload saving (512
    # vector bytes -> 64 code bytes at dim 64 / m=16). The 1/20 split
    # above is query-fan-heavy (queries replicate T x (1 + probes) = 5x
    # the index's T x salts), which dilutes the measured total.
    q1 = emb.filter(F.col("vec_id") % 100 == 0)
    i1 = emb.filter(F.col("vec_id") % 100 != 0)
    ref1 = _pairs(ann_search(q1, i1, k=5, n_index=i1.count()))
    b4 = _shuffle_write_bytes(spark)
    sec_full1 = _noop_time(lsh_search(q1, i1, k=5))
    b5 = _shuffle_write_bytes(spark)
    full1 = _pairs(lsh_search(q1, i1, k=5))
    b6 = _shuffle_write_bytes(spark)
    sec_adc1 = _noop_time(lsh_adc_search(q1, i1, k=5))
    b7 = _shuffle_write_bytes(spark)
    adc1 = _pairs(lsh_adc_search(q1, i1, k=5))
    out["lsh_adc_8x_flat_index_heavy"] = {
        "full_vector_sec": sec_full1,
        "adc_sec": sec_adc1,
        "full_vector_shuffle_bytes": b5 - b4,
        "adc_shuffle_bytes": b7 - b6,
        "shuffle_bytes_ratio": round((b5 - b4) / max(1, b7 - b6), 2),
        "full_recall_vs_exact": round(len(full1 & ref1) / len(ref1), 4),
        "adc_recall_vs_exact": round(len(adc1 & ref1) / len(ref1), 4),
        "adc_recall_vs_full": round(len(adc1 & full1) / len(full1), 4),
    }
    print(
        f"# lsh_adc_8x_flat_index_heavy: {out['lsh_adc_8x_flat_index_heavy']}",
        file=sys.stderr,
    )
    emb.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
