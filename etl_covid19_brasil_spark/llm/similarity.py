"""The exact-cosine tier: brute-force top-k, threshold pairs and
label-masked hard negatives over one table (self-join), and the exact
plans of the two-frame ``search.ann_search`` (SURVEY.md §2.10
similarity_topk).

The naive formulation — crossJoin + per-pair higher-order folds — is
correct but interpreted per array element; at n=2000 vectors it spends
~75 s materializing 4M pairs. Every exact plan here runs the same
vectorized machinery, and the entry points differ only in their block
kernel (:func:`_topk_block`, :func:`_pairs_block`, the label-masked
top-k) and output schema:

- **one guarded collect** (:func:`_collect_bounded`): the bounded side
  is collected through a ``limit(bound + 1)`` probe, so a low row-count
  estimate can never pull an over-bound side through the driver — the
  probe IS the broadcast payload when it fits, and proves the side
  over-bound when it does not (the caller then takes the
  block-nested-loop). An empty side gives an empty result;
- **one broadcast scan** (:func:`_broadcast_scan`): the collected side
  rides a broadcast into an Arrow kernel over the other side's stream —
  the classic broadcast-kNN shape, zero shuffle, embarrassingly
  parallel. Either side can be the bounded one: the self-join callers
  and ``ann_search``'s bounded-index tier broadcast the index,
  ``ann_search``'s small-batch tier broadcasts the QUERIES and streams
  the index without ever shuffling its vectors;
- **one block-nested-loop** (:func:`_cogrouped_partials`): beyond the
  bound the index never touches the driver — it is hash-tiled, the
  query stream is hash-salted into bounded blocks, and each (tile,
  salt) pair of blocks meets in ONE ``cogroup().applyInPandas``
  shuffle. Every (query, index) pair meets exactly once; peak task
  memory is one index tile + one query block + one
  SIMS_BUDGET_BYTES-bounded similarity slice (kernels are fed
  query-row chunks — see _by_query_chunks). Exact all-pairs at that
  scale is a deliberate O(n_q x n) spend — the ANN tier (llm/ann.py)
  is the sub-linear path;
- **one top-k merge** (:func:`_global_topk`, shared with every ANN
  tier): per-task or per-block local top-k candidates (n_q x k x
  n_tiles rows, never the similarity matrix) merge under one
  row_number window that Spark 4 rewrites to a partial
  WindowGroupLimit;
- each kernel computes similarities **accumulating
  dimension-by-dimension in index order** (``acc += a[:, i] * b[:, i]``)
  — the exact IEEE operation sequence of ``F.aggregate(zip_with(a, b,
  *), 0.0, +)`` and DuckDB's ``list_reduce`` fold, so results are
  bit-identical to the declarative formulation and the SQL oracle
  (block boundaries never change per-pair arithmetic, and the global
  re-rank uses the same deterministic (cosine desc, id asc) order as
  the single-tile lexsort);
- vectors are L2-normalized once per block (element / norm, norm from
  the same ordered fold), not per pair.

Scale shape: zero shuffle in the index-broadcast plan. The cogrouped
path shuffles n_q x n_tiles + n_index x n_salts rows — both sides
spread across the cluster, driver out of the data path entirely.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# One tile of 64-dim float64 vectors at this bound is ~100 MB broadcast —
# comfortably inside executor/driver memory at local[32] and cluster alike.
MAX_INDEX_ROWS = 200_000

# Query rows per salt block in the cogrouped path: bounds the left side
# of every applyInPandas group so task memory stays flat as n_q grows.
QUERY_BLOCK_ROWS = 100_000

TOPK_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cosine", DoubleType()),
        StructField("rank", IntegerType()),
    ]
)

PAIRS_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


def _ordered_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot accumulated dimension-by-dimension (index order) —
    matches the sequential fold semantics bit-for-bit. a: (n, d) or
    (d,); b: (m, d) with broadcasting handled by the caller."""
    acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1], dtype=np.float64)
    for i in range(a.shape[-1]):
        acc += a[..., i] * b[..., i]
    return acc


def _normalize(mat: np.ndarray) -> np.ndarray:
    m64 = mat.astype(np.float64)
    norms = np.sqrt(_ordered_dot(m64, m64))
    return m64 / norms[:, None]


# Per-kernel-call cap on the (|Q|, |I|) similarity-matrix allocation.
# Every block kernel materializes an n_q x n_idx float64 accumulator (plus
# one same-shaped temp inside the ordered fold), so an UNSLICED call on
# full-size blocks — 100k queries x 200k index rows — would try to
# allocate ~160 GB and OOM-kill the Python worker. (Exactly that happened
# when the r9 64x stretch probe pushed near_dedup_embedding onto the
# cogrouped tier for the first time; the 8x/32x probes had always stayed
# on the broadcast tier.) 128 MB caps the accumulator at ~1 GB peak per
# worker including the fold temp and Arrow buffers.
SIMS_BUDGET_BYTES = 128 << 20


def _by_query_chunks(block_fn, q_ids, q_mat, ids, mat, *args):
    """Run ``block_fn`` over query-row slices sized so each call's
    (n_q_slice, n_idx) similarity allocation stays under
    SIMS_BUDGET_BYTES. Bit-identical to the unsliced call: every kernel
    treats query rows independently (pairs emission, per-query top-k),
    and slicing never reorders the per-element dimension fold."""
    rows_per = max(1, SIMS_BUDGET_BYTES // (8 * max(1, len(ids))))
    if len(q_ids) <= rows_per:
        return block_fn(q_ids, q_mat, ids, mat, *args)
    parts = [
        block_fn(q_ids[s : s + rows_per], q_mat[s : s + rows_per], ids, mat, *args)
        for s in range(0, len(q_ids), rows_per)
    ]
    return pd.concat(parts, ignore_index=True)


def _scan_parallel_enough(df: DataFrame, target: int) -> bool:
    """True when ``df``'s file scan already carries at least ``target``
    splits' worth of BYTES (>= target x maxPartitionBytes), i.e. a
    round-robin spread before CPU-heavy per-row work would re-shuffle a
    large corpus for nothing.

    r17 (VERDICT r16 item 6 / ADVICE): the previous gate compared FILE
    COUNT to the parallelism target, but Spark bin-packs small files
    into splits (openCostInBytes charges ~4 MB per file under a 128 MB
    bin, so up to ~32 tiny files share one split) — a many-tiny-file
    corpus passed the file-count gate yet still arrived in a handful of
    tasks, re-pinning exactly the tokenize/hash work the spread exists
    to parallelize. Bytes are the right proxy in both directions: a
    corpus under target x maxPartitionBytes is cheap to spread (the
    shuffle moves few bytes, the freed cores dominate), and one over it
    already scans wide.

    Scan bytes are the ``sizeInBytes`` statistics of the optimized
    plan's file-relation leaves (``LogicalRelation`` over a
    ``HadoopFsRelation``: the file index's listed sizes, read when the
    relation resolved) — no per-file ``getFileStatus`` call, so the
    driver work is O(plan leaves), never O(files). Other leaves report
    Spark's ``defaultSizeInBytes`` placeholder and are not counted.
    Non-file sources, and plans whose statistics cannot be read, return
    False — the spread is applied and AQE coalesces it if it was
    unnecessary."""
    spark = df.sparkSession
    try:
        max_pb = int(
            spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
        )
    except Exception:  # noqa: BLE001 — unparseable conf: assume default
        max_pb = 128 << 20
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if (
                leaf.getClass().getSimpleName() == "LogicalRelation"
                and leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
            ):
                total += int(str(leaf.stats().sizeInBytes()))
    except Exception:  # noqa: BLE001 — py4j surface drift: spread
        return False
    return total >= target * max_pb


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the cluster's parallelism
    BEFORE CPU-heavy per-row work when the source scan is narrow: a
    table small enough to arrive as one or two splits would otherwise
    pin the O(n_q x n_index) kernel, or the tokenize/shingle/hash
    projection, on as many cores (maxPartitionBytes sizes splits by
    bytes, not by the compute they feed). Gated on scan BYTES
    (:func:`_scan_parallel_enough` — r17; file count was the previous
    proxy and under-parallelized many-tiny-file corpora); non-file
    sources take the repartition, which AQE coalesces if it was
    unnecessary. The shuffle moves few bytes next to the freed cores;
    at real scale the input already scans wide and this is a no-op
    (no round-robin re-shuffle of every byte for nothing)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if not _scan_parallel_enough(df, target):
        return df.repartition(target)
    return df


def _lexsort_topk(
    q_ids: np.ndarray,
    i_ids: np.ndarray,
    scores: np.ndarray,
    depth: int,
    score: str = "cosine",
    ranked: bool = False,
    packed_labels: bool = False,
) -> pd.DataFrame:
    """The masked top-k tail every block kernel shares: set excluded
    pairs of the (|Q|, |I|) ``scores`` to -inf so they sort last, then
    keep each query row's best ``depth`` by (score desc, neighbor id
    asc) in ONE 2D lexsort (stable, last key primary). Any -inf that
    leaks into the top of a short row is dropped after the gather —
    drops only happen at a row's tail, so ``ranked`` ranks stay
    contiguous. Callers compute ``scores`` their own way (ordered fold,
    matmul, ADC), so the doubles they emit are theirs.

    Excluded pairs share an id; with ``packed_labels`` (ids are
    ``id * 256 + label``) the mask widens to the whole same-label slice
    (which subsumes self) and the output unpacks ids + neighbor_label."""
    if packed_labels:
        scores[(q_ids & 255)[:, None] == (i_ids & 255)[None, :]] = -np.inf
    else:
        scores[q_ids[:, None] == i_ids[None, :]] = -np.inf
    kk = min(depth, len(i_ids))
    order = np.lexsort((np.broadcast_to(i_ids, scores.shape), -scores), axis=-1)[:, :kk]
    got = np.take_along_axis(scores, order, axis=1).reshape(-1)
    keep = got > -np.inf
    picked = i_ids[order].reshape(-1)[keep]
    out = {"query_id": np.repeat(q_ids, kk)[keep], "neighbor_id": picked}
    if packed_labels:
        out = {
            "query_id": out["query_id"] >> 8,
            "neighbor_id": picked >> 8,
            "neighbor_label": (picked & 255).astype(np.int32),
        }
    out[score] = got[keep]
    if ranked:
        out["rank"] = np.tile(np.arange(1, kk + 1, dtype=np.int32), len(q_ids))[keep]
    return pd.DataFrame(out)


def _topk_block(
    q_ids: np.ndarray, q_mat: np.ndarray, ids: np.ndarray, mat: np.ndarray, k: int
) -> pd.DataFrame:
    """Local top-k of one (query block x index block): (nq, d) x (m, d)
    similarities with dimension-ordered accumulation, ranked by the
    shared :func:`_lexsort_topk` tail (self-pairs excluded)."""
    sims = _ordered_dot(q_mat[:, None, :], mat[None, :, :])
    return _lexsort_topk(q_ids, ids, sims, k, ranked=True)


def _pairs_block(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    ids: np.ndarray,
    mat: np.ndarray,
    threshold: float,
) -> pd.DataFrame:
    """Qualifying (a < b) pairs of one (query block x index block); the
    a < b guard emits each unordered pair exactly once across blocks."""
    sims = _ordered_dot(q_mat[:, None, :], mat[None, :, :])
    keep = (sims >= threshold) & (q_ids[:, None] < ids[None, :])
    rows, cols = np.nonzero(keep)
    return pd.DataFrame(
        {"id_a": q_ids[rows], "id_b": ids[cols], "cosine": sims[rows, cols]}
    )


def _cogrouped_partials(
    queries: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_q: int,
    n_idx: int,
    bound: int,
    block_fn,
    schema: StructType,
) -> DataFrame:
    """Driver-free block-nested-loop: index hash-tiled into
    ``ceil(n_idx / bound)`` tiles, queries hash-salted into
    ``ceil(n_q / QUERY_BLOCK_ROWS)`` blocks, every (tile, salt) block
    pair meets in one cogrouped applyInPandas. The shuffle carries
    n_q * n_tiles + n_index * n_salts rows; no collect, no broadcast,
    peak task memory = one index tile + one query block."""
    n_tiles = max(1, math.ceil(n_idx / bound))
    n_salts = max(1, math.ceil(n_q / QUERY_BLOCK_ROWS))
    # Parallelism floor (r16): tiles/salts derive from MEMORY bounds
    # (the index bound / QUERY_BLOCK_ROWS), which near the
    # broadcast bound yields a 2x1 grid — the whole O(n_q x n_idx)
    # kernel then runs in TWO applyInPandas groups while 30 of 32 cores
    # idle (observed live: the 32x two-frame BNL probe sat in a
    # 2-partition stage). applyInPandas groups are indivisible units
    # AQE cannot split, so the grid itself must cover the cluster:
    # raise the TILE count until tiles x salts >= defaultParallelism.
    # Growing tiles (not salts) replicates the QUERY side — the smaller
    # side in the two-frame regime this path serves — and shrinks each
    # group's index tile, so peak task memory only drops. Results are
    # tiling-invariant by construction (each (query, index) pair meets
    # exactly once; per-pair doubles are the ordered fold at any
    # tiling), pinned by test_bnl_tiling_invariance.
    par = queries.sparkSession.sparkContext.defaultParallelism
    n_tiles = max(n_tiles, -(-par // max(1, n_salts)))
    # BOTH sides' grouping keys must be the SAME type (bigint): cogroup
    # key matching is by hash of the typed value, and an int-typed tile
    # (explode of int literals) never reliably meets a bigint-typed tile
    # (pmod of xxhash64) — blocks silently miss each other, data-
    # dependently (regression pinned by test_cogroup_key_types_match).
    # sequence() also keeps the plan free of an n_tiles-literal array.
    zero = F.lit(0).cast("long")
    q_rep = (
        queries.select(id_col, vec_col)
        .withColumn(
            "salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("long")
        )
        .withColumn(
            "tile", F.explode(F.sequence(zero, F.lit(n_tiles - 1).cast("long")))
        )
    )
    # Distinct column names on the index side: a self-cogroup shares
    # attribute ids across both groupings, and Spark dedups same-named
    # attributes — the right-hand pandas frame would arrive without its
    # id/vector columns.
    idx_rep = (
        vectors.select(
            F.col(id_col).alias("_idx_id"), F.col(vec_col).alias("_idx_vec")
        )
        .withColumn(
            "tile", F.pmod(F.xxhash64(F.col("_idx_id")), F.lit(n_tiles)).cast("long")
        )
        .withColumn(
            "salt", F.explode(F.sequence(zero, F.lit(n_salts - 1).cast("long")))
        )
    )

    _PD_DTYPES = {
        "bigint": "int64",
        "double": "float64",
        "int": "int32",
        "float": "float32",
        "smallint": "int16",
        "tinyint": "int8",
        "boolean": "bool",
    }

    def fold(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            # .get with an object fallback: an unmapped field type must
            # not raise inside an executor only when an empty cogroup
            # occurs (Arrow accepts an empty object column for any type)
            return pd.DataFrame(
                {
                    f.name: pd.Series(
                        dtype=_PD_DTYPES.get(f.dataType.simpleString(), "object")
                    )
                    for f in schema
                }
            )
        q_ids = left[id_col].to_numpy(dtype=np.int64)
        q_mat = _normalize(np.stack(left[vec_col].to_numpy()))
        ids = right["_idx_id"].to_numpy(dtype=np.int64)
        mat = _normalize(np.stack(right["_idx_vec"].to_numpy()))
        # full blocks here are up to QUERY_BLOCK_ROWS x max_index_rows —
        # the sims allocation MUST be sliced (see SIMS_BUDGET_BYTES)
        return _by_query_chunks(block_fn, q_ids, q_mat, ids, mat)

    return (
        q_rep.groupby("tile", "salt")
        .cogroup(idx_rep.groupby("tile", "salt"))
        .applyInPandas(fold, schema=schema)
    )


def _estimate_rows(df: DataFrame) -> int:
    """Row-count estimate from Catalyst plan statistics — runs NO job.

    Tier choice (broadcast vs cogrouped) is a pure performance decision:
    both paths are bit-identical, so an estimate is safe for
    correctness, and at 100 TB an extra full-scan ``count()`` action
    just to pick a tier is a wasted pass (VERDICT r5 item 5). Order of
    preference: the optimizer's rowCount (exact when AQE/CBO or a cached
    plan provides it), else sizeInBytes / schema defaultSize — Spark's
    own SizeInBytesOnlyStats inversion; parquet compression makes this
    an UNDER-estimate of in-memory rows, so it is inflated 4x to stay
    conservative about broadcasting (the failure mode of
    under-estimating is an oversized broadcast; over-estimating merely
    takes the always-safe cogrouped path) — and only if statistics are
    entirely absent does it fall back to a real count().
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return max(1, int(str(rc.get())))
    except Exception:  # py4j surface drift — fall through
        pass
    # Parquet footers: exact pre-filter row counts from file METADATA
    # (KBs per file, driver-side, no job). Pre-filter is an upper bound
    # — safe: over-estimating only takes the always-correct tiled path.
    # Sample at most 64 footers SPREAD across the file list (a prefix
    # sample under-estimates when many small part files list first —
    # ADVICE r6) and extrapolate by file count.
    footer_est, footer_exact = 0, False
    try:
        files = [f for f in df.inputFiles() if f.startswith(("file:", "/"))]
        if files and files[0].endswith(".parquet"):
            import pyarrow.parquet as pq

            stride = max(1, len(files) // 64)
            sample = files[::stride][:64]
            rows = sum(
                pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
                for f in sample
            )
            footer_est = max(1, (rows * len(files)) // len(sample))
            footer_exact = len(sample) == len(files)
    except Exception:
        pass
    if footer_exact:
        return footer_est  # every footer read — this IS the row count
    # sizeInBytes inversion as a second opinion when the footer count was
    # EXTRAPOLATED from a subsample; take the MAX so a skewed sample (many
    # small part files) cannot under-bound the index collect — the
    # conservative direction is always "more rows" (ADVICE r6).
    size_est = 0
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
        if 0 < size < (1 << 62):  # defined, not the unknown-stats default
            width = max(1, df._jdf.schema().defaultSize())
            size_est = max(1, (size * 4) // width)
    except Exception:
        pass
    if footer_est or size_est:
        return max(footer_est, size_est)
    return df.count()


def _collect_bounded(
    df: DataFrame, id_col: str, vec_col: str, bound: int
) -> "pd.DataFrame | None":
    """The ONE driver collect of the exact tier: ``df``'s (id, vector)
    rows through a ``limit(bound + 1)`` probe — the bounded side
    itself, or None when the probe proves the side over ``bound``.

    Row-count estimates only decide whether to PROBE; the probe bounds
    the collect, so a low estimate (a post-filter CBO selectivity
    guess, a lying caller hint) can never pull an unbounded side
    through the driver — the caller degrades to the block-nested-loop
    with ``bound + 1`` as the true lower bound on the side's rows. An
    in-bound probe IS the broadcast payload, so there is no second
    driver transit (the same bounded-collect discipline as ann.py's
    training samples)."""
    pdf = df.select(id_col, vec_col).limit(bound + 1).toPandas()
    return pdf if len(pdf) <= bound else None


def _broadcast_scan(
    bounded: pd.DataFrame,
    streamed: DataFrame,
    id_col: str,
    vec_col: str,
    block_fn,
    schema: StructType,
    bounded_queries: bool = False,
) -> DataFrame:
    """Broadcast the collected ``bounded`` side once and stream the
    other side, _spread, through ``block_fn`` in query-row chunks
    (:func:`_by_query_chunks`). ``bounded_queries``: the broadcast side
    holds the QUERIES and ``streamed`` the index — the index's vectors
    never shuffle, and each scan task emits its local per-query
    candidates for :func:`_global_topk` to merge. Otherwise the
    broadcast side is the index and each streamed row's result is
    final. The broadcast side stays the q side of ``block_fn`` either
    way, so ranks and tie-breaks are the same in both roles. An empty
    bounded side gives an empty ``schema`` frame."""
    spark = streamed.sparkSession
    if bounded.empty:  # zero-row side: zero-row result, not np.stack([])
        return spark.createDataFrame([], schema=schema)
    ids = bounded[id_col].to_numpy(dtype=np.int64)
    bc = spark.sparkContext.broadcast((ids, _normalize(np.stack(bounded[vec_col].to_numpy()))))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            s_ids = pdf[id_col].to_numpy(dtype=np.int64)
            s = (s_ids, _normalize(np.stack(pdf[vec_col].to_numpy())))
            yield _by_query_chunks(block_fn, *(b + s if bounded_queries else s + b))

    return _spread(streamed.select(id_col, vec_col)).mapInPandas(kernel, schema=schema)


def _global_topk(local: DataFrame, k: int, dedup: bool = True) -> DataFrame:
    """Merge per-group local top-k lists into the global per-query
    top-k.

    ``dedup=False`` (r16 optimization round): the IVF tiers deliver
    each (query, neighbor) pair AT MOST ONCE by construction — an
    index row lives in exactly ONE home cell and a query's probe cells
    are distinct, so no pair can meet twice — and their dropDuplicates
    was a full extra exchange spent deduplicating already-unique rows
    (guide §2.4: "a distinct on data that is already unique"). The LSH
    tiers keep the dedup: a pair collides in up to T tables x fan
    probes."""
    if dedup:
        local = local.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _pack_labels(df: DataFrame, id_col: str, vec_col: str, label_col: str) -> DataFrame:
    """(``id * 256 + label``, vector) rows: the label rides PACKED into
    the id's low byte, so the shared tiling / cell machinery carries it
    unchanged — the packed id preserves vec_id ordering for tie-breaks
    (label bits only distinguish equal ids, which never tie) and kernels
    recover ``label = id & 255``. Exact for vec_id < 2^55 (pinned by
    test_hard_negative_id_packing_bounds).

    A label outside [0, 255] (or null) would silently corrupt both the
    unpacked id and the label, so every row is checked inside the same
    projection: ``F.raise_error`` fails the first action that reads a
    bad row. The check is lazy — no extra job."""
    label = F.col(label_col).cast("long")
    msg = F.format_string(
        "%s must be an integer in [0, 255] to pack into the id; got %s",
        F.lit(label_col),
        F.col(label_col),
    )
    checked = F.when(label.between(0, 255), label).otherwise(F.raise_error(msg))
    return df.select((F.col(id_col).cast("long") * 256 + checked).alias(id_col), vec_col)


def _exact_self_join(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    block_fn,
    schema: StructType,
    k: "int | None",
    max_index_rows: int,
    n_rows: "int | None",
) -> DataFrame:
    """The self-join exact plan every entry point below shares: under
    the bound (``n_rows`` hint, else plan statistics — no extra scan,
    see _estimate_rows) the guarded collect feeds one broadcast scan;
    beyond it, or when the probe proves the estimate low, the cogrouped
    block-nested-loop. With ``k`` its per-block top-k candidates merge
    through :func:`_global_topk`; ``k=None`` keeps every emitted row.
    Both plans are bit-identical (same ordered fold, same tie-break)."""
    n = n_rows if n_rows is not None else _estimate_rows(vectors)
    if n <= max_index_rows:
        side = _collect_bounded(vectors, id_col, vec_col, max_index_rows)
        if side is not None:
            return _broadcast_scan(side, vectors, id_col, vec_col, block_fn, schema)
        n = max_index_rows + 1
    local = _cogrouped_partials(
        vectors, vectors, id_col, vec_col, n, n, max_index_rows, block_fn, schema
    )
    return local if k is None else _global_topk(local, k, dedup=False)


def cosine_pairs_above(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_index_rows: int = MAX_INDEX_ROWS,
    n_rows: int | None = None,
) -> DataFrame:
    """All unordered pairs (id_a < id_b) with cosine >= threshold —
    embedding-space near-duplicate detection. Bounded index: broadcast
    kernel. Beyond the bound: cogrouped block-nested-loop (no driver
    transit). Cosines are bit-identical between paths and to the
    declarative SQL formulation (same ordered fold). ``n_rows`` is a
    caller hint for the tier choice; when omitted, plan statistics are
    used (no extra scan — see _estimate_rows)."""
    block = partial(_pairs_block, threshold=threshold)
    return _exact_self_join(
        vectors, id_col, vec_col, block, PAIRS_SCHEMA, None, max_index_rows, n_rows
    )


def brute_force_topk(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_index_rows: int = MAX_INDEX_ROWS,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (self-join semantics,
    self excluded). Output: (query_id, neighbor_id, cosine, rank) with
    deterministic tie-break (cosine desc, neighbor_id asc).

    Bounded index: one broadcast, zero shuffle, ranks straight from the
    kernel's lexsort. Beyond the bound: the cogrouped block-nested-loop
    emits each block's local top-k (a superset of that block's
    global-top-k members), then one window re-rank merges them — the
    merge shuffles only n_q * k * n_tiles candidate rows, never the raw
    similarity matrix, and the index never transits the driver.
    ``n_rows`` is a caller hint for the tier choice; when omitted, plan
    statistics are used (no extra scan — see _estimate_rows)."""
    block = partial(_topk_block, k=k)
    return _exact_self_join(
        embeddings, id_col, vec_col, block, TOPK_SCHEMA, k, max_index_rows, n_rows
    )


def hard_negative_topk(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_index_rows: int = MAX_INDEX_ROWS,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact top-k OTHER-CLASS cosine neighbors per vector — hard-negative
    mining for contrastive training (the highest-similarity examples the
    model must learn to push apart; in-batch random negatives are too
    easy). Output: (query_id, neighbor_id, neighbor_label, cosine, rank),
    tie-broken (cosine desc, neighbor_id asc) like :func:`brute_force_topk`.

    Scale shape: IDENTICAL to brute_force_topk — the label constraint is
    a mask inside the per-block kernel, not a join. Labels ride through
    the shared exact plans PACKED into the id (:func:`_pack_labels`;
    labels must be integers in [0, 255] — a null or out-of-range label
    raises), and the kernel's mask sets same-label similarities to
    -inf, which also covers the self-pair.
    """

    def block(q_ids, q_mat, ids, mat):
        sims = _ordered_dot(q_mat[:, None, :], mat[None, :, :])
        return _lexsort_topk(q_ids, ids, sims, k, ranked=True, packed_labels=True)

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("neighbor_label", IntegerType()),
            StructField("cosine", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    if n_rows is None:  # route on the caller's frame, not the packed projection
        n_rows = _estimate_rows(embeddings)
    packed = _pack_labels(embeddings, id_col, vec_col, label_col)
    return _exact_self_join(
        packed, id_col, vec_col, block, schema, k, max_index_rows, n_rows
    )
