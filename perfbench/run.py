#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The benchmark is a
closed loop with one client: each step is called only after the previous
one returned. One run does this:

1. makes the workload's inputs from ``--seed`` (untimed, cached per seed
   under ``.bench_work/``);
2. sets up: starts a session with ``session.get_spark`` and runs a first
   action, three times (stopping the session in between), then runs one
   untimed warm-up pass of the workload's steps;
3. runs passes until ``--seconds`` have gone by (at least three), timing
   each step from the call into the program through materialization;
4. checks every output: each pass's per-step digest against the warm-up
   pass, lake tables and consultation answers against a DuckDB replay of
   the generated inputs, registered queries against their DuckDB oracle;
5. prints a summary table on stderr and, as the last stdout line, one
   JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace
1`` wraps the program's public functions in spans, alternates traced and
untraced passes, and reports the per-layer metrics; the spans are written
to ``.bench_work/<run>/spans.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

import workloads
from spans import StatusReader, Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "etl_covid19_brasil_spark"
SESSIONS = 3  # session set-ups per run; setup_s uses their median
MIN_PASSES = 3

SPAN_LAYERS = ("llm.minhash", "llm.ann", "llm.search", "operators.concomp")
IO_SCAN = ("io.scan_", "io.load_table")
IO_WRITE = ("io.sink_", "io.upsert_partitions", "io.merge_by_key", "io.compact_parquet")


def peak_rss_bytes() -> int:
    """Sum of the peak resident set (VmHWM) of this process's descendants:
    the Spark JVM and the Python workers it forked. The kernel keeps each
    peak, so no short burst between two samples is missed."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while the table was read
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == pid and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) * 1024
        except (OSError, StopIteration, ValueError):
            continue
    return total


def digest_columns(df):
    """Columns to hash for a pass-to-pass check: doubles rounded to 6
    decimals so last-bit summation-order noise does not count."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c.cast("double"), 6)
        cols.append(c)
    return cols


def run_step(step, tracer, frames: dict | None = None):
    """Run one step; return its digest. With ``frames``, noop steps are
    collected to pandas instead and kept there for the oracle check."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if step.sink == "call":
        with tracer.span("exec"):
            value = step.build()
        return json.loads(json.dumps(value, default=str))
    with tracer.span("queries.build"):
        df = step.build()
    with tracer.span("exec"):
        if step.sink == "collect":
            return list(workloads.rows_digest(df.collect()))
        obs = Observation()
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*digest_columns(df)), F.lit(2147483647))).alias("h"),
        )
        if frames is None:
            observed.write.format("noop").mode("overwrite").save()
        else:
            frames[step.name] = (observed.schema, observed.toPandas())
        got = obs.get
        return [got["n"], got["h"]]


def run_pass(spark, wl, tracer, status, detail: bool, frames: dict | None = None) -> dict:
    # Collect garbage before the clock starts, so that heap left by one
    # pass is not paid for inside the next one.
    wl.before_pass()
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    first_span = len(tracer.spans)
    mark0 = status.mark()
    digests, errors, per_step = {}, {}, {}
    t0 = time.perf_counter()
    for step in wl.steps:
        s0, j0 = time.perf_counter(), status.jobs()
        try:
            with tracer.span(f"step.{step.name}"):
                digests[step.name] = run_step(step, tracer, frames)
        except Exception as exc:  # noqa: BLE001 -- a failed step is counted, the loop goes on
            errors[step.name] = (str(exc).strip().splitlines() or [type(exc).__name__])[0][:300]
        per_step[step.name] = (time.perf_counter() - s0, status.jobs() - j0)
    seconds = time.perf_counter() - t0
    counters = status.read(mark0, status.mark(), sql=detail)
    return {
        "seconds": seconds,
        "digests": digests,
        "errors": errors,
        "counters": counters,
        "steps": per_step,
        "spans": (first_span, len(tracer.spans)),
        "lake": wl.lake_digests(),
        "lake_bytes": wl.lake_bytes(),
    }


def layer_metrics(p: dict, tracer) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    c = p["counters"]
    m = {
        "queries.build_s": 0.0,
        "queries.build_jobs": 0.0,
        "exec.s": 0.0,
        "io.scan_s": 0.0,
        "io.write_s": 0.0,
        "etl.pipeline_s": 0.0,
    }
    for layer in SPAN_LAYERS:
        m[f"{layer}.self_s"] = 0.0
        m[f"{layer}.jobs"] = 0.0
    for idx in range(*p["spans"]):
        span = tracer.spans[idx]
        if span.name == "queries.build":
            m["queries.build_s"] += span.seconds
            m["queries.build_jobs"] += span.jobs
            continue
        if span.name == "exec":
            m["exec.s"] += span.seconds
            continue
        secs, jobs = tracer.self_time(idx)
        for layer in SPAN_LAYERS:
            if span.name.startswith(layer + "."):
                m[f"{layer}.self_s"] += secs
                m[f"{layer}.jobs"] += jobs
        if span.name.startswith(IO_SCAN):
            m["io.scan_s"] += secs
        elif span.name.startswith(IO_WRITE):
            m["io.write_s"] += secs
        elif span.name.startswith("etl."):
            m["etl.pipeline_s"] += secs
    m.update(
        {
            "exec.jobs": c["jobs"],
            "exec.tasks": c["tasks"],
            "exec.stages_skipped": c["stages_skipped"],
            "exec.stage_reuse_ratio": c["stages_skipped"] / c["stages"] if c["stages"] else 0.0,
            "exec.exchange_count": c["exchange_count"],
            "exec.exchange_bytes": c["shuffle_write_bytes"],
            "exec.codegen_ms": c["codegen_s"] * 1e3,
            "exec.scan_ms": c["scan_s"] * 1e3,
            "exec.scan_bytes": c["scan_bytes"],
            "exec.python_start_ms": c["python_start_s"] * 1e3,
            "exec.python_run_ms": c["python_run_s"] * 1e3,
            "exec.executor_cpu_ms": c["executor_cpu_s"] * 1e3,
            "exec.jvm_gc_ms": c["jvm_gc_s"] * 1e3,
            "exec.spill_bytes": c["spill_bytes"],
            "io.files_written": c["files_written"],
            "io.bytes_written": c["bytes_written"],
        }
    )
    return m


def check_passes(wl, passes: list[dict], oracle_bad: dict[str, str]) -> tuple[int, int, list[str]]:
    """(attempted, failed, failure notes) over every step of every pass,
    the first (warm-up) pass included, plus one oracle check per step."""
    expected_lake = wl.expected_lake()
    ref = passes[0]["digests"]
    attempted, failed, notes = 0, 0, []
    for i, p in enumerate(passes):
        bad_tables = {t for t, d in p["lake"].items() if tuple(d) != tuple(expected_lake[t])}
        for step in wl.steps:
            attempted += 1
            got = p["digests"].get(step.name)
            why = None
            if step.name in p["errors"]:
                why = f"raised: {p['errors'][step.name]}"
            elif got != ref.get(step.name):
                why = f"digest {got} != first pass {ref.get(step.name)}"
            elif step.expect is not None and tuple(got) != tuple(step.expect):
                why = f"digest {got} != DuckDB replay {step.expect}"
            elif bad_tables & set(step.writes):
                why = f"lake tables {sorted(bad_tables & set(step.writes))} differ from DuckDB replay"
            if why:
                failed += 1
                notes.append(f"pass {i} {step.name}: {why}")
    for step in wl.steps:
        if step.sink == "noop":
            attempted += 1
            if step.name in oracle_bad:
                failed += 1
                notes.append(f"oracle {step.name}: {oracle_bad[step.name]}")
    return attempted, failed, notes


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pass_seconds(passes: list[dict]) -> float:
    """Time of one pass of the mix: the sum over its steps of each step's
    median time across the passes. A slow spell that hits parts of two
    passes moves it less than it moves the median of whole passes."""
    steps = passes[0]["steps"]
    return sum(statistics.median(p["steps"][name][0] for p in passes) for name in steps)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="input size")
    ap.add_argument("--report", type=Path, help="also write per-pass details here")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"[perfbench] {PACKAGE}/ not found next to perfbench/: nothing to measure", file=sys.stderr)
        return 2
    # Metric names and units, end to end and per layer, as declared.
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    sys.path.insert(0, str(ROOT))

    work = ROOT / ".bench_work" / f"{args.workload}-{args.size}-seed{args.seed}"
    work.mkdir(parents=True, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir(exist_ok=True)

    clock = {"start": time.perf_counter()}
    wl = workloads.make(args.workload, work, args.seed, args.size)
    clock["inputs"] = time.perf_counter()

    tracer = Tracer()
    if args.trace:
        tracer.install()
    from etl_covid19_brasil_spark import get_spark, registry

    # Quiet stderr, keep the JVM's temporary files inside the checkout, and
    # start the heap at its maximum size: a heap that grows on demand makes
    # the JVM's resident size depend on when the collector ran, so it is
    # also touched up front. The JIT stops at C1: with C2 a pass keeps
    # getting faster for about a minute of passes, longer than a run lasts,
    # so a run's few passes would time wherever they fell on that slope.
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        ),
    }
    sessions = []
    for i in range(SESSIONS):
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        spark.range(1).count()
        sessions.append((t1 - t0, time.perf_counter() - t1))
        if i < SESSIONS - 1:
            spark.stop()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer.bind(spark)
        status = StatusReader(spark)
        wl.bind(spark, registry.all_specs())

        # The warm-up pass collects what the measured passes write to the
        # noop sink, so the oracle check needs no extra run of any step.
        frames: dict = {}
        t0 = time.perf_counter()
        warm = run_pass(spark, wl, tracer, status, detail=False, frames=frames)
        warm_s = time.perf_counter() - t0
        setup_s = statistics.median(a + b for a, b in sessions) + warm_s

        passes: list[dict] = []
        t_start = time.perf_counter()
        while len(passes) < MIN_PASSES + args.trace or (
            time.perf_counter() - t_start < args.seconds
        ):
            # Traced and untraced passes in ABBA order, so that neither
            # side gets more of the later, warmer passes.
            traced = bool(args.trace) and len(passes) % 4 in (0, 3)
            tracer.enabled = traced
            p = run_pass(spark, wl, tracer, status, detail=traced)
            p["traced"] = traced
            passes.append(p)
        tracer.enabled = False
        peak_rss = peak_rss_bytes()
    finally:
        clock["measured"] = time.perf_counter()
        stop_spark(spark)
        clock["stopped"] = time.perf_counter()

    attempted, failed, notes = check_passes(wl, [warm] + passes, wl.oracle_checks(frames))
    clock["checked"] = time.perf_counter()
    for n in notes[:20]:
        print(f"[perfbench] FAILED {n}", file=sys.stderr)

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]

    def med(ps, f):
        return statistics.median(f(p) for p in ps)

    metrics = {
        "setup_s": setup_s,
        "pass_s": pass_seconds(plain),
        "jobs_per_pass": med(plain, lambda p: p["counters"]["jobs"]),
        "shuffle_bytes_per_pass": med(plain, lambda p: p["counters"]["shuffle_write_bytes"]),
        "peak_rss_mb": peak_rss / 2**20,
        "lake_bytes_per_input_byte": (
            med(plain, lambda p: p["lake_bytes"]) / wl.input_bytes if wl.expected_lake() else 1.0
        ),
        "ok_frac": 1.0 - failed / attempted,
    }
    if args.trace:
        layers = [layer_metrics(p, tracer) for p in traced]
        metrics.update({k: statistics.median(m[k] for m in layers) for k in layers[0]})
        metrics["session.get_spark_s"] = statistics.median(a for a, _ in sessions)
        metrics["session.first_action_s"] = statistics.median(b for _, b in sessions)
        metrics["trace.overhead_s"] = pass_seconds(traced) - metrics["pass_s"]
        (work / "spans.json").write_text(json.dumps(tracer.to_records()))

    jobs = [p["counters"]["jobs"] for p in plain]
    times = [p["seconds"] for p in plain]
    q1, q2, q3 = quartiles(times)
    print(
        f"[perfbench] {args.workload} seed={args.seed} size={args.size} "
        f"inputs={wl.input_bytes} B passes={len(plain)}"
        + (f"+{len(traced)} traced" if traced else "")
        + f" pass_s q1/med/q3={q1:.3f}/{q2:.3f}/{q3:.3f} jobs/pass={jobs} "
        f"warm-up={warm_s:.3f}s sessions={[round(a + b, 3) for a, b in sessions]} "
        f"phases={ {k: round(v - clock['start'], 1) for k, v in clock.items()} }",
        file=sys.stderr,
    )
    for k in units:
        if k in metrics:
            print(f"[perfbench]   {k:34s} {metrics[k]:>16.6g} {units[k]}", file=sys.stderr)
    if args.report:
        args.report.write_text(
            json.dumps(
                {
                    "metrics": metrics,
                    "passes": [
                        {k: p[k] for k in ("seconds", "steps", "digests", "errors", "counters", "traced")}
                        for p in passes
                    ],
                    "failures": notes,
                },
                default=str,
            )
        )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in shown},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
