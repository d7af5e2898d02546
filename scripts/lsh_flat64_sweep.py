#!/usr/bin/env python
"""r15 probe (VERDICT r14 item 4): does the 3-per-plane table cap track
the flat-corpus knee at 64x, or was the 32x knee a P=8 coincidence?

The r14 32x sweep measured the flat decay TABLE-bounded with a knee at
T=17 (= the new cap at P=8): +4 tables bought +0.054 recall at +10%
wall-clock, +8 bought less per unit cost. The 64x point (P=9, cap
T=20, recall 0.886) inherited the coefficient by extrapolation. This
sweep measures the same three cells at 64x flat — T in {cap, cap+4,
cap+8} at the derived P — so the knee is either confirmed to track the
cap (keep 5+3(P-4)) or shown to sit elsewhere (derive a flat target).

Timing protocol: noop-write, recall read out UNTIMED on the
sampled-truth estimator — the lsh_flat32_sweep protocol unchanged.

Usage: python scripts/lsh_flat64_sweep.py [--replicas 64]
Prints one JSON line.
"""
from __future__ import annotations

import argparse
import json
import math
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_covid19_brasil_spark import get_spark  # noqa: E402
from etl_covid19_brasil_spark.io import load_table  # noqa: E402
from scripts.scale_check import (  # noqa: E402
    build_scaled_dir,
    sampled_recall_truth,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=64)
    args = ap.parse_args()

    from etl_covid19_brasil_spark.llm.ann import (
        _TARGET_BUCKET_ROWS,
        auto_n_tables,
        lsh_topk,
    )

    spark = get_spark(app_name="lsh-flat64-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    path = build_scaled_dir(spark, args.replicas, tables=("embeddings",))
    emb = load_table(spark, path, "embeddings").cache()
    n = emb.count()

    p0 = max(4, math.ceil(math.log2(max(2, n / _TARGET_BUCKET_ROWS))))
    cap0 = auto_n_tables(p0)
    grid = [(p0, cap0), (p0, cap0 + 4), (p0, cap0 + 8)]

    truth, sample_qids, _ = sampled_recall_truth(emb, n)
    out = {"replicas": args.replicas, "n": n, "p_derived": p0, "cap": cap0}
    cells = []
    for p, t in grid:
        key = f"P{p}_T{t}"
        try:
            t0 = time.perf_counter()
            res = lsh_topk(emb, k=5, n_planes=p, n_tables=t)
            res.write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - t0, 3)
            got = {
                (int(r.query_id), int(r.neighbor_id))
                for r in res.toPandas().itertuples()
                if int(r.query_id) in sample_qids
            }
            recall = round(len(got & truth) / len(truth), 4)
        except Exception as exc:  # noqa: BLE001 — one cell, not the sweep
            cells.append({"config": key, "error": str(exc).splitlines()[0][:200]})
            print(f"# {key} FAILED", file=sys.stderr)
            continue
        cells.append({"config": key, "sec": sec, "recall_sampled": recall})
        print(f"# {key}: {sec:.1f}s recall {recall:.4f}", file=sys.stderr)
    out["cells"] = cells

    emb.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
