"""Hot-key-robust running aggregates (SURVEY.md §4 scale posture).

``SUM(v) OVER (PARTITION BY k ORDER BY o ROWS UNBOUNDED PRECEDING)``
hash-shuffles on ``k`` and sorts each key inside ONE task. Under key
skew (one customer owning 50% of a 100 TB order log) that task sorts
half the table: the stage runs at the straggler's speed and the sort
spills — AQE cannot split a window partition the way it splits a skewed
join, so the plain window has no runtime rescue.

For ASSOCIATIVE frame aggregates the fix is the two-pass chunk-prefix
pattern (the keyed generalization of ``id_assign_contiguous``,
queries/analytics.py):

1. ``repartitionByRange(n, *keys, *order)`` — the sampled range
   partitioner yields partitions that are globally ordered and
   non-overlapping on ``(keys..., order...)``, so a hot key is SPLIT
   across as many partitions as its volume demands (the hash
   partitioner, by construction, never splits a key).
2. Within each (partition, key) chunk: an ordinary prefix aggregate —
   the sort is bounded by the partition size, never by the key size.
3. Per-chunk totals -> per-key prefix offsets across partitions. Only
   keys that SPAN a partition boundary need an offset, and a range
   partitioning can split at most ``n - 1`` keys (one per boundary), so
   the broadcast is O(#partitions) rows regardless of key cardinality —
   broadcasting all per-key offsets would be O(|keys|) and die at
   100 TB key counts.
4. Broadcast-join the offsets back; chunk prefix + offset = the exact
   window result (exact because the order columns include a unique
   tiebreaker, making the per-key order total — same argument as
   id_assign_contiguous).

The four shapes share one layout (``_chunks``: step 1 plus the pin
below) and one spanning-key set (``_spanning``). The three prefix
shapes share one stitch (``_stitched_prefix``: steps 2-4).
``chunked_running_sum`` is that stitch over its value column.
``chunked_sessionize`` and pass 1 of ``chunked_scd2`` are the stitch
over a 0/1 break flag ``brk(prev, cur)``, whose chunk-first rows are
corrected against the predecessor chunk's last value — a gap over
``gap_us`` microseconds for sessions, a value change for SCD2, the
same predicates (``_gap_break``, ``_change_break``) their plain
``*_auto`` routes flag with. The correction needs only spanning keys:
a key in one partition has one chunk, whose first row is the key's
first row, so its provisional flag is already right.
``chunked_moving_frame`` needs no stitch, only ghost rows over the
same layout and spanning keys.

Cost vs the plain window: the data crosses TWO full shuffles instead
of one — the range partition plus the chunk window's required
hash(partition_id, key) clustering (Spark cannot see that the range
layout already clusters chunks) — BUT both are skew-free: the hot key
hashes to many (pid, key) pairs, so no reducer receives more than a
chunk. Plus one O(rows)->O(#chunks) map-side-partial aggregate, one
O(#keys)-row shuffle for the spanning-key filter, and a broadcast of
<= 2(n-1) rows (plan-pinned in tests/test_plans.py: the offsets join
stays a BroadcastHashJoin and every data-sized exchange clusters on
(pid, key), never the bare key). What it buys: the per-task sort bound
drops from O(hottest key) to O(partition), i.e. the operator's
memory/straggler envelope no longer depends on the data's key
distribution at all.

The ``localCheckpoint(eager=False)`` pins the sampled range boundaries
so the chunk-prefix pass and the totals pass see identical partition
ids (the id_assign_contiguous lesson: recomputation may resample).
Fault-tolerance tradeoff (ADVICE r10): localCheckpoint truncates
lineage to EXECUTOR-LOCAL block storage — losing an executor mid-job
makes those partitions unrecoverable and fails the job, a real
availability cost on long cluster runs where executor churn is
routine. Pass ``reliable_checkpoint=True`` (after
``sc.setCheckpointDir(...)`` to durable storage) to pin the boundaries
with a reliable ``checkpoint`` instead: same determinism guarantee,
survives executor loss, costs one extra write+read of the ranged data.
Local mode and short jobs keep the cheap default.

NULL keys are first-class (ADVICE r10): ``Window.partitionBy`` treats
NULL as an ordinary partition value, so the stitching joins here use
null-safe equality (``eqNullSafe``) — a plain equi-join would silently
drop/miss NULL-key offset rows and chunk-restart any NULL-key group
that spans a range-partition boundary. Null-safe equality is still an
equi-join key to Spark (hash/broadcast join plans are unchanged); the
hypothesis differentials pin a null-key corpus against the plain twins.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

_PID = "__cw_pid"
_LOCAL = "__cw_local"
_TOT = "__cw_tot"
_OFF = "__cw_off"
_FLAG = "__cw_flag"
_RN = "__cw_rn"
_DELTA = "__cw_delta"
_US = "__cw_us"

_log = logging.getLogger(__name__)

_Break = Callable[[Column, Column], Column]


def _pin(df: DataFrame, reliable: bool) -> DataFrame:
    """Pin the sampled range-partition boundaries so every pass sees
    identical partition ids (recomputation may resample). Reliable mode
    writes to the session checkpoint dir (set sc.setCheckpointDir) and
    survives executor loss; local mode is cheaper but executor-bound —
    see the module docstring.

    Local pins use DISK_ONLY storage (r12): the default
    MEMORY_AND_DISK level parks the whole pinned frame in the unified
    memory pool, where the storageFraction-protected blocks starve the
    very window sorts the chunked rewrite fans out — measured at 60M
    one-key rows under the 8g default heap, chunked_scd2 died with
    UNABLE_TO_ACQUIRE_MEMORY while the plain single-task window (which
    pins nothing and spills one sort against the full pool) completed.
    The chunked path exists precisely for when memory is tight, so its
    lineage pin must never compete with execution memory; the
    sequential disk re-read is noise next to the shuffles it feeds."""
    if reliable:
        return df.checkpoint(eager=False)
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)


def _ns_join(
    left: DataFrame, right: DataFrame, cols: Sequence[str], how: str = "inner", broadcast: bool = False
) -> DataFrame:
    """Null-safe equi-join on ``cols`` (NULL == NULL matches — the
    semantics Window.partitionBy gives NULL key values), dropping the
    right side's join columns. eqNullSafe keys still plan as hash /
    broadcast joins, so the pinned plan shapes are unchanged."""
    ren = right
    for c in cols:
        ren = ren.withColumnRenamed(c, f"__cw_r_{c}")
    if broadcast:
        ren = F.broadcast(ren)
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__cw_r_{c}"))
    return left.join(ren, cond, how).drop(*[f"__cw_r_{c}" for c in cols])


def _chunks(
    df: DataFrame, keys: Sequence[str], order: Sequence[str], num_partitions: int | None, reliable: bool
) -> DataFrame:
    """The pinned range layout: ``df`` range-partitioned on
    (keys..., order...) and tagged with its partition id, so a
    (partition, key) pair is one contiguous chunk of the key's order."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return _pin(
        df.repartitionByRange(n, *[F.col(c) for c in [*keys, *order]]).withColumn(
            _PID, F.spark_partition_id()
        ),
        reliable,
    )


def _spanning(per_chunk: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys present in more than one partition — the only keys any chunk
    of which needs a stitch. A range partitioning splits at most n - 1
    keys (one per boundary), so this is O(#partitions) rows no matter
    how many distinct keys the data holds."""
    return (
        per_chunk.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__cw_npid"))
        .filter(F.col("__cw_npid") > 1)
        .drop("__cw_npid")
    )


def _flag(brk: _Break, x: Column, w: Window) -> Column:
    """1 where ``brk(previous x, x)`` holds over ``w``, else 0. The
    first row's previous x is null, so ``brk`` must hold on a null
    ``prev``."""
    return F.when(brk(F.lag(x).over(w), x), F.lit(1)).otherwise(F.lit(0))


def _gap_break(gap_us: int) -> _Break:
    """Sessionize's break: a gap over ``gap_us`` microseconds (or no
    previous event)."""

    def brk(prev: Column, cur: Column) -> Column:
        gap = cur - prev
        return gap.isNull() | (gap > gap_us)

    return brk


def _change_break(prev: Column, cur: Column) -> Column:
    """SCD2's break: the value changed (or there is no previous value)."""
    return prev.isNull() | (prev != cur)


def _stitched_prefix(
    src: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    out: str,
    term: Column | None = None,
    brk: _Break | None = None,
    x: str | None = None,
) -> DataFrame:
    """Exact per-key running ``SUM(term)`` in ``out`` over the pinned
    layout ``src`` (module docstring, steps 2-4). With ``brk`` the term
    is the break flag ``_flag(brk, x)``: each chunk's first row is
    flagged provisionally (its local lag is null), and a chunk that
    continues a key corrects it by ``delta`` = 0 (real break) or -1
    from ``brk(predecessor chunk's last x, own first x)``. Corrected
    totals feed the offsets, and the corrected flag comes back in
    ``_FLAG``. The first chunk of every key — in particular the only
    chunk of a key that sits in one partition — has no predecessor, so
    its provisional flag is already right and only spanning keys join
    back. Returns ``src``'s columns (``_FLAG``/``_RN`` included with
    ``brk``, ``_PID`` dropped) plus ``out``."""
    chunk = Window.partitionBy(_PID, *keys).orderBy(*order)
    ends = []
    if brk is not None:
        src = src.withColumn(_FLAG, _flag(brk, F.col(x), chunk)).withColumn(
            _RN, F.row_number().over(chunk)
        )
        term = F.col(_FLAG)
        # boundary facts ordered by the chunk row number, not by
        # struct(order...): that keeps the aggregate a HashAggregate
        ends = [F.min_by(x, _RN).alias("__cw_first"), F.max_by(x, _RN).alias("__cw_last")]
    local = src.withColumn(
        _LOCAL, F.sum(term).over(chunk.rowsBetween(Window.unboundedPreceding, 0))
    )
    # Per-chunk totals: O(rows) input but map-side partial aggregation
    # collapses it to one row per (partition, key) chunk before any
    # shuffle; <= n - 1 + |keys| chunks exist.
    per_chunk = src.groupBy(_PID, *keys).agg(F.sum(term).alias(_TOT), *ends)
    spans = _ns_join(per_chunk, _spanning(per_chunk, keys), keys)
    w_key = Window.partitionBy(*keys).orderBy(_PID)
    w_prior = w_key.rowsBetween(Window.unboundedPreceding, -1)
    if brk is None:
        offsets = spans.select(
            _PID, *keys, F.coalesce(F.sum(_TOT).over(w_prior), F.lit(0)).alias(_OFF)
        ).filter(F.col(_OFF) != 0)
    else:
        prev_last = F.lag("__cw_last").over(w_key)
        delta = F.when(brk(prev_last, F.col("__cw_first")), F.lit(0)).otherwise(F.lit(-1))
        prior = F.coalesce(F.sum(F.col(_TOT) + F.col(_DELTA)).over(w_prior), F.lit(0))
        offsets = (
            spans.withColumn(_DELTA, delta)
            .select(_PID, *keys, (prior + F.col(_DELTA)).alias(_OFF), _DELTA)
            .filter((F.col(_OFF) != 0) | (F.col(_DELTA) != 0))
        )
    # stitching joins are null-safe on the key columns (_PID never null):
    # a NULL key spanning a range boundary must receive its offset
    # exactly like any other key (module docstring, ADVICE r10)
    stitched = _ns_join(local, offsets, [_PID, *keys], "left", broadcast=True).withColumn(
        out, F.col(_LOCAL) + F.coalesce(F.col(_OFF), F.lit(0))
    )
    if brk is not None:
        first_fix = F.coalesce(F.when(F.col(_RN) == 1, F.col(_DELTA)), F.lit(0))
        stitched = stitched.withColumn(_FLAG, F.col(_FLAG) + first_fix).drop(_DELTA)
    return stitched.drop(_PID, _LOCAL, _OFF)


def chunked_running_sum(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    value: str,
    out: str,
    num_partitions: int | None = None,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Exact ``SUM(value) OVER (PARTITION BY keys ORDER BY order ROWS
    BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)`` with the per-task
    sort bounded by partition size instead of hottest-key size.

    Requirements: ``order`` must make the per-key ordering total (include
    a unique tiebreaker) — same contract the plain window needs for a
    deterministic result; ``value`` should be an exact type (long cents,
    not double) — chunked summation reorders float rounding.
    """
    keys, order = list(keys), list(order)
    src = _chunks(df, keys, order, num_partitions, reliable_checkpoint)
    return _stitched_prefix(src, keys, order, out, term=F.col(value))


# Measured crossovers (SCALECHECK_r10 + r12, scripts/skew_check.py
# --window-stress --shapes ...): on a one-key frame the plain window
# wins below the crossover (constant-factor chunk bookkeeping
# dominates); the chunked rewrite wins above it — and once the hot
# key's sort exceeds executor memory the plain form cannot complete at
# all. r12 re-measured every dispatcher shape at 10M one-key rows
# under the DISK_ONLY lineage pin (chunked/plain wall-clock):
# running_sum 0.68, sessionize 0.75, scd2 0.87, moving_frame 0.42 —
# three shapes share the 10M constant (same side, ratios within the
# protocol's noise floor of each other at the threshold), while the
# bounded-frame shape crosses far earlier (0.88 at 1M, 0.52 at 3M:
# the plain sliding frame re-aggregates w rows per output row inside
# ONE task, so its single-task cost grows ~w-fold faster). A mis-route
# near a threshold costs only the constant-factor gap — both routes
# are exact.
CROSSOVER_HOT_ROWS = 10_000_000
MOVING_FRAME_CROSSOVER_HOT_ROWS = 2_000_000


def pick_window_strategy(
    df: DataFrame,
    keys: Sequence[str],
    sample_fraction: float = 0.001,
    hot_rows_crossover: int = CROSSOVER_HOT_ROWS,
    seed: int = 42,
) -> str:
    """Route plain-vs-chunked from a SAMPLED hot-key-mass estimate:
    ``max per-key count in a Bernoulli sample / fraction`` estimates the
    hottest key's row count, compared against the measured crossover.

    Cost: one sampled scan + a map-side-collapsing count aggregate —
    at 100 TB with the default 1e-3 fraction that is a ~100 GB sample
    feeding an O(#sampled-keys) shuffle, noise next to the window job
    itself. The estimate is deliberately coarse: BOTH routes are exact
    (bit-identical results, pinned by the chunked family's tests), so a
    mis-route near the boundary costs only the constant-factor gap, not
    correctness. An empty sample estimates 0 -> plain, which is right
    for any frame small enough to evade a 1e-3 sample. For a
    full-fidelity profile (skew ratio, top-10 mass) run the
    diag_key_skew query (queries/relational.py) and choose explicitly.

    Crossover constants are PER-SHAPE where measured to differ
    (ADVICE r11): the unbounded-prefix shapes (running sum, sessionize,
    SCD2) share CROSSOVER_HOT_ROWS = 10M — all three measured chunked-
    favorable at 10M one-key rows under the DISK_ONLY pin (ratios 0.68/
    0.75/0.87) — while the bounded-frame shape routes at its own
    MOVING_FRAME_CROSSOVER_HOT_ROWS = 2M (the plain sliding frame's
    single-task cost grows ~frame-width-fold faster). Each constant is
    an approximation for its shape's measured workload; pass
    ``hot_rows_crossover`` to override per corpus.

    NOTE: this (and therefore every ``*_auto`` operator) runs ONE eager
    Spark job at CONSTRUCTION time — a dispatcher cannot be lazy, since
    the route must be decided before the plan is built. The sampled
    scan re-executes ``df``'s full upstream lineage once per dispatch:
    callers whose input is an expensive derived frame (multi-join,
    UDF-heavy) should ``df.cache()`` (or persist) before calling an
    ``*_auto`` operator — or profile once with diag_key_skew and call
    the chosen route explicitly. Callers that need pure-lazy builders
    (plan pinning, repeated construction) should pick ``chunked_*`` or
    the plain window explicitly.
    """
    if not 0.0 < sample_fraction <= 1.0:
        raise ValueError(
            f"sample_fraction must be in (0, 1], got {sample_fraction}; "
            "to skip sampling, call the plain window or chunked_* "
            "operator directly"
        )
    hot = (
        df.sample(fraction=sample_fraction, seed=seed)
        .groupBy(*[F.col(c) for c in keys])
        .agg(F.count(F.lit(1)).alias("__cw_n"))
        .agg(F.max("__cw_n").alias("__cw_max"))
        .first()["__cw_max"]
    )
    est = int((hot or 0) / sample_fraction)
    route = "chunked" if est > hot_rows_crossover else "plain"
    record = {
        "keys": list(keys),
        "sample_fraction": sample_fraction,
        "est_hot_rows": est,
        "crossover": hot_rows_crossover,
        "route": route,
    }
    _log.info("pick_window_strategy: %s", record, extra={"window_strategy": record})
    return route


def running_sum_auto(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    value: str,
    out: str,
    num_partitions: int | None = None,
    sample_fraction: float = 0.001,
    hot_rows_crossover: int = CROSSOVER_HOT_ROWS,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Skew-aware running sum (VERDICT r10 item 6): samples the key
    mass via :func:`pick_window_strategy` and routes to the plain
    single-pass window below the measured crossover or the hot-key-
    robust :func:`chunked_running_sum` above it — so a caller who does
    not know their key distribution gets the plain window's speed on
    well-behaved data AND survival on a 50%-hot 100 TB log, instead of
    having to pick an operator per corpus. Both routes produce
    identical results; only the plan differs.
    """
    keys, order = list(keys), list(order)
    route = pick_window_strategy(df, keys, sample_fraction, hot_rows_crossover)
    if route == "chunked":
        return chunked_running_sum(
            df, keys, order, value, out,
            num_partitions=num_partitions,
            reliable_checkpoint=reliable_checkpoint,
        )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out, F.sum(value).over(w))


def sessionize_auto(
    df: DataFrame,
    key: str,
    ts: str,
    tiebreak: str,
    gap_us: int,
    out: str = "session_seq",
    num_partitions: int | None = None,
    sample_fraction: float = 0.001,
    hot_rows_crossover: int = CROSSOVER_HOT_ROWS,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Skew-aware sessionization: :func:`pick_window_strategy` routes to
    the plain gaps-and-islands window below the crossover or
    :func:`chunked_sessionize` above it. Identical output either way
    (input columns + ``out`` long)."""
    route = pick_window_strategy(df, [key], sample_fraction, hot_rows_crossover)
    if route == "chunked":
        return chunked_sessionize(
            df, key, ts, tiebreak, gap_us, out,
            num_partitions=num_partitions,
            reliable_checkpoint=reliable_checkpoint,
        )
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    flag = _flag(_gap_break(gap_us), F.unix_micros(F.col(ts)), w)
    return (
        df.withColumn(_FLAG, flag)
        .withColumn(
            out,
            F.sum(_FLAG)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .drop(_FLAG)
    )


def scd2_auto(
    df: DataFrame,
    key: str,
    value: str,
    ts: str,
    tiebreak: str,
    num_partitions: int | None = None,
    sample_fraction: float = 0.001,
    hot_rows_crossover: int = CROSSOVER_HOT_ROWS,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Skew-aware SCD Type-2 compression: routes to the plain
    lag-compare → filter → lead build below the crossover or
    :func:`chunked_scd2` above it. Identical output either way:
    (key, value, valid_from, valid_to, is_current, version)."""
    route = pick_window_strategy(df, [key], sample_fraction, hot_rows_crossover)
    if route == "chunked":
        return chunked_scd2(
            df, key, value, ts, tiebreak,
            num_partitions=num_partitions,
            reliable_checkpoint=reliable_checkpoint,
        )
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    transitions = (
        df.withColumn(_FLAG, _flag(_change_break, F.col(value), w))
        .withColumn(
            "version",
            F.sum(_FLAG)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .filter(F.col(_FLAG) == 1)
        .select(key, value, F.col(ts).alias("valid_from"), "version")
    )
    nxt = Window.partitionBy(key).orderBy("version")
    return transitions.withColumn("valid_to", F.lead("valid_from").over(nxt)).select(
        key,
        value,
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        "version",
    )


def moving_frame_auto(
    df: DataFrame,
    key: str,
    order: Sequence[str],
    value: str,
    frame_w: int,
    out_sum: str = "frame_sum",
    out_cnt: str = "frame_cnt",
    num_partitions: int | None = None,
    sample_fraction: float = 0.001,
    hot_rows_crossover: int = MOVING_FRAME_CROSSOVER_HOT_ROWS,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Skew-aware bounded-frame aggregate: routes to the plain window
    below the crossover or :func:`chunked_moving_frame` above it.
    Identical output either way (input columns + out_sum/out_cnt).
    Default crossover is the bounded-frame shape's OWN measured
    constant (2M, not the 10M the unbounded shapes share — see
    MOVING_FRAME_CROSSOVER_HOT_ROWS)."""
    order = list(order)
    route = pick_window_strategy(df, [key], sample_fraction, hot_rows_crossover)
    if route == "chunked":
        return chunked_moving_frame(
            df, key, order, value, frame_w, out_sum, out_cnt,
            num_partitions=num_partitions,
            reliable_checkpoint=reliable_checkpoint,
        )
    w = Window.partitionBy(key).orderBy(*order).rowsBetween(-(frame_w - 1), 0)
    return df.withColumn(out_sum, F.sum(value).over(w)).withColumn(
        out_cnt, F.count(F.lit(1)).over(w)
    )


def chunked_sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    tiebreak: str,
    gap_us: int,
    out: str = "session_seq",
    num_partitions: int | None = None,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Hot-key-robust gaps-and-islands sessionization: exact
    ``SUM(new_session) OVER (PARTITION BY key ORDER BY ts, tiebreak)``
    where ``new_session`` flags a gap > ``gap_us`` microseconds to the
    previous row — the chunk-prefix pattern extended to a LAG-dependent
    flag. Proof that the running-sum rewrite generalizes beyond plain
    aggregates (the SCALECHECK_r10 structural argument, implemented).

    Mechanics (``_stitched_prefix`` with ``brk`` = gap over ``gap_us``):

    - within each (partition, key) chunk, flags and prefix sums are the
      ordinary single-pass window — the chunk's FIRST row provisionally
      flags a new session (local lag is null);
    - per-chunk boundary facts (first/last event time by chunk row
      number, provisional flag total) reduce to one row per chunk in
      one aggregate — O(#chunks), map-side partial;
    - a chunk whose key continues from an earlier partition corrects its
      first-row flag against the PREDECESSOR chunk's last event time
      (gap compare across the boundary) — a chunk-wide constant in
      {0, -1} since the first row's flag sits in every local prefix;
    - per-chunk offsets = prefix of CORRECTED flag totals over earlier
      chunks of the same key. As with the running sum, only
      boundary-spanning keys (<= n_partitions - 1) produce a nonzero
      adjustment, so the broadcast stays O(#partitions) at any key
      cardinality.

    ``ts`` order must be totally ordered per key by (ts, tiebreak);
    the gap compares integer microseconds exactly like the plain
    formulation, so results are bit-identical.
    """
    src = _chunks(
        df.withColumn(_US, F.unix_micros(F.col(ts))),
        [key], [ts, tiebreak], num_partitions, reliable_checkpoint,
    )
    return _stitched_prefix(
        src, [key], [ts, tiebreak], out, brk=_gap_break(gap_us), x=_US
    ).drop(_US, _FLAG, _RN)


def chunked_scd2(
    df: DataFrame,
    key: str,
    value: str,
    ts: str,
    tiebreak: str,
    num_partitions: int | None = None,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Hot-key-robust SCD Type-2 compression: collapse a per-key change
    stream into (key, value, valid_from, valid_to, is_current, version)
    effective-date ranges — exact equivalent of the lag-compare →
    filter → lead/row_number plain-window build
    (queries/windows.py:scd2_dimension_build), completing the window
    family's chunk-prefix rewrites.

    Pass 1 is :func:`chunked_sessionize`'s stitch with a
    VALUE-CHANGE flag instead of a time-gap flag: each chunk flags
    transitions locally (first row provisionally a transition), chunk
    boundary facts carry the predecessor chunk's LAST value so a
    continuing chunk's first row keeps or drops its flag, and corrected
    flag prefixes number each key's transitions 1..n — the version
    column — without any per-key single-task sort.

    Pass 2 needs each transition's ``valid_to`` = the NEXT transition's
    timestamp. Because versions are corrected to be CONTIGUOUS per key,
    that is a plain self equi-join on (key, version+1) — one hash
    shuffle on a composite key that subdivides hot keys by version, no
    window, no cross-chunk lead bookkeeping; a missing successor marks
    the open-ended current row. This is the trick that keeps pass 2
    skew-free for free.

    Like the other two prefix shapes, the corrections are pruned to
    spanning keys: only a chunk with a predecessor chunk of the same key
    can have a wrong provisional first-row flag, and the first chunk of
    every key — the only chunk of a key that sits in one partition —
    starts at the key's first row, whose flag is 1. The stitch keeps a
    spanning chunk whose offset is 0 but whose first-row flag drops, so
    the correction table is O(#partitions) rows and joins back by
    broadcast.
    """
    src = _chunks(df, [key], [ts, tiebreak], num_partitions, reliable_checkpoint)
    rows = _stitched_prefix(
        src, [key], [ts, tiebreak], "version", brk=_change_break, x=value
    )
    transitions = rows.filter(F.col(_FLAG) == 1).select(
        key, F.col(value), F.col(ts).alias("valid_from"), "version"
    )
    nxt = transitions.select(
        F.col(key).alias("__cw_k2"),
        (F.col("version") - 1).alias("__cw_v2"),
        F.col("valid_from").alias("valid_to"),
    )
    return (
        transitions.join(
            nxt,
            # null-safe on the key: a NULL-key version chain must find
            # its successors like any other key (module docstring)
            F.col(key).eqNullSafe(F.col("__cw_k2"))
            & (F.col("version") == F.col("__cw_v2")),
            "left",
        )
        .select(
            key,
            value,
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            "version",
        )
    )


def chunked_moving_frame(
    df: DataFrame,
    key: str,
    order: Sequence[str],
    value: str,
    frame_w: int,
    out_sum: str = "frame_sum",
    out_cnt: str = "frame_cnt",
    num_partitions: int | None = None,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Hot-key-robust BOUNDED frame aggregate — exact
    ``SUM(value) / COUNT(*) OVER (PARTITION BY key ORDER BY order ROWS
    BETWEEN frame_w-1 PRECEDING AND CURRENT ROW)`` — completing the
    fourth window shape (the reference workload's own 7-day moving
    average, dags/create-data-lake.py's covid series). Returns the
    input plus ``out_sum`` and ``out_cnt``; callers derive avg.

    Bounded frames need no offset stitching at all — each chunk only
    needs GHOST rows: the true last ``frame_w - 1`` rows of its key's
    full prefix across ALL earlier chunks (a single-hop "previous
    chunk's tail" is NOT enough — a key that barely crosses a boundary
    leaves a 1-row chunk, so history can span several chunks back; the
    sf0.01 probe hit exactly that). Selection stays tiny by
    construction: only boundary-SPANNING keys (<= n_partitions - 1 of
    them) have chunks needing ghosts, so the candidate pool — each
    spanning chunk's last ``frame_w - 1`` rows — is
    O(#spanning-chunks × frame) rows of metadata scale; per target
    chunk, rank the candidates from earlier chunks of the same key by
    order descending and keep the first ``frame_w - 1``. Ghosts sort
    strictly before every real row of their target chunk (range
    partitions are contiguous on (key, order)), so the target's early
    frames see exactly their true preceding rows; ghost outputs are
    dropped. Worst case — ONE key spanning every partition — the
    rank join touches O(n² × frame) candidate-target pairs, still
    metadata-sized next to the data shuffles.
    """
    order = list(order)
    src = _chunks(df, [key], order, num_partitions, reliable_checkpoint)
    w_desc = Window.partitionBy(_PID, key).orderBy(*[F.col(c).desc() for c in order])
    tagged = src.withColumn("__cw_rdesc", F.row_number().over(w_desc))
    chunks = src.groupBy(_PID, key).agg(F.count(F.lit(1)).alias("__cw_n"))
    spanning = _spanning(chunks, [key])
    # candidate pool: the last frame_w-1 rows of every chunk of a
    # spanning key — tiny (<= #spanning-chunks * frame rows)
    cand = _ns_join(
        tagged.filter(F.col("__cw_rdesc") <= frame_w - 1),
        spanning,
        [key],
        broadcast=True,
    )
    targets = _ns_join(chunks, spanning, [key], broadcast=True).select(
        key, F.col(_PID).alias("__cw_tpid")
    )
    w_rank = Window.partitionBy(key, "__cw_tpid").orderBy(
        *[F.col(c).desc() for c in order]
    )
    ghosts = (
        _ns_join(cand, targets, [key])
        .filter(F.col(_PID) < F.col("__cw_tpid"))
        .withColumn("__cw_grank", F.row_number().over(w_rank))
        .filter(F.col("__cw_grank") <= frame_w - 1)
        .withColumn(_PID, F.col("__cw_tpid"))
        .drop("__cw_tpid", "__cw_grank")
        .withColumn("__cw_ghost", F.lit(1))
    )
    all_rows = tagged.withColumn("__cw_ghost", F.lit(0)).unionByName(ghosts)
    w = (
        Window.partitionBy(_PID, key)
        .orderBy(*order)
        .rowsBetween(-(frame_w - 1), 0)
    )
    return (
        all_rows.withColumn(out_sum, F.sum(value).over(w))
        .withColumn(out_cnt, F.count(F.lit(1)).over(w))
        .filter(F.col("__cw_ghost") == 0)
        .drop(_PID, "__cw_rdesc", "__cw_ghost")
    )
