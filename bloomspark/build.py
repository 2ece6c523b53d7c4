"""Distributed Bloom filter construction on Spark.

The Spark replacement for the reference's Redis distribution layer
(/root/reference/src/main/java/orestes/bloomfilter/redis/*): instead of
one shared mutable bit array behind WATCH/MULTI transactions
(RedisBitSet.java:36-100, CountingBloomFilterRedis.java:114-156), each
partition builds an immutable local bitset from its Arrow batches and
the partials are OR-merged associatively — Spark's partial/final
aggregation shape, realized with ``mapInArrow`` (partials) + an
``applyInPandas`` tree merge of the partial rows (final), because
PySpark has no native binary-reducing UDAF over opaque state.

Everything stays vectorized: Arrow batch -> numpy hash matrix ->
bool-array scatter -> ``np.packbits``.  No per-row Python anywhere in
the hot path (the Spark analog of the reference's pipelined bulk ops,
redis/BloomFilterRedis.java:51-97).

Scale notes (100 TB / 1000-executor design):
- Partials are 1 row x (m/8) bytes per partition.  Driver collect of P
  partials is P*m/8 bytes; above ``tree_merge_threshold`` partitions the
  build inserts a shuffle-light two-phase merge (group = pid % G) so the
  driver sees only G rows.
- The plain build needs NO shuffle at all: any row may land in any
  partition, so we never repartition unless asked.
- Per-group (e.g. per-repo) builds hash-partition by group and are
  exposed in grouped.py with salted two-phase merging for skew.
"""

from __future__ import annotations

import time
import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .counting import CountingBloomFilter, add_saturating, counter_dtype, counter_max
from .filter import BloomFilter, popcount
from .hashing import Keys, get_hash_fn, keys_from_pandas, km_positions_h1, murmur3_32
from .params import FilterConfig


def _hash_with_fingerprint(keys: Keys, config: FilterConfig):
    """(positions, fingerprint_sum) — the fingerprint is the uint64 sum of
    murmur3(0, key), which the default KM hash computes anyway as h1."""
    pos, h1 = _hash_with_row_fingerprints(keys, config)
    return pos, h1.sum()


def _hash_with_row_fingerprints(keys: Keys, config: FilterConfig):
    """(positions, per-row uint64 fingerprint) — for builders that split a
    batch across buckets and need per-subset fingerprint sums."""
    if config.hash_method == "Murmur3KirschMitzenmacher":
        pos, h1 = km_positions_h1(keys, config.m, config.k)
        return pos, h1.astype(np.uint64)
    pos = get_hash_fn(config.hash_method)(keys, config.m, config.k)
    return pos, murmur3_32(keys, 0).astype(np.uint64)

#: Partials are tree-merged on executors before the driver sees them
#: whenever their total upper-bound size exceeds this (collecting
#: gigabytes of partials through the driver socket is the scaling
#: bottleneck; an executor-side merge stage reduces it to
#: tree_merge_groups rows).
TREE_MERGE_COLLECT_BYTES = 128 << 20
#: Fan-in of the executor-side merge stage.
DEFAULT_TREE_MERGE_GROUPS = 16


def _should_tree_merge(n_parts: int, num_bytes: int, threshold) -> bool:
    if threshold is not None:
        return n_parts > threshold
    return n_parts > 8 and n_parts * num_bytes > TREE_MERGE_COLLECT_BYTES


#: Logical nodes that preserve their child's partition count — the walk
#: in :func:`plan_num_partitions` may step through these.
_PARTITION_PRESERVING = frozenset(
    {"Project", "Filter", "SubqueryAlias", "TypedFilter"}
)


def plan_num_partitions(df: DataFrame) -> Optional[int]:
    """Partition count read off the LOGICAL plan, without ``df.rdd``.

    ``df.rdd.getNumPartitions()`` forces the DataFrame -> Python-RDD
    conversion plan and measured ~0.5 s PER CALL on this host (round-7
    profiling, bench_extra.py) — it was the single largest fixed cost of
    every small build.  The common bench/production shapes end in
    ``repartition(n)`` / ``range(..., numSlices)`` under projections, so
    the count is statically known: walk down through partition-
    preserving unary nodes and read it.  Returns None when the plan
    shape is not statically decidable (callers fall back to df.rdd)."""
    try:
        node = df._jdf.queryExecution().logical()
        for _ in range(64):
            name = node.getClass().getSimpleName()
            if name == "Repartition":
                return int(node.numPartitions())
            if name == "RepartitionByExpression":
                opt = node.optNumPartitions()
                return int(opt.get()) if opt.isDefined() else None
            if name == "Range":
                opt = node.numSlices()
                return int(opt.get()) if opt.isDefined() else None
            if name == "LogicalRDD":
                # localCheckpoint()ed frames: the RDD already exists,
                # its partition count is a field read, not a plan build
                return int(node.rdd().getNumPartitions())
            if name in _PARTITION_PRESERVING:
                node = node.children().apply(0)
                continue
            return None
    except Exception:
        return None
    return None


def _resolve_num_partitions(df: DataFrame, num_partitions: Optional[int]) -> int:
    """The partition count feeding a partial build: the explicit
    ``num_partitions`` when given (the repartition makes it exact), else
    the statically-read plan count, else the df.rdd fallback."""
    if num_partitions is not None:
        return num_partitions
    n = plan_num_partitions(df)
    if n is not None:
        return n
    return df.rdd.getNumPartitions()

PARTIAL_SCHEMA = (
    "part_id int, rows bigint, ones bigint, fingerprint bigint, "
    "t_ms double, kind string, bitset binary"
)

#: Dense bool-array scatter is used up to this filter size; beyond it the
#: packed-byte bincount trick keeps memory at O(m/8).
BOOL_SCATTER_LIMIT = 1 << 31
#: Partials switch to a dense bitset once the accumulated distinct
#: positions would serialize larger than the bitset itself.  Positions are
#: uint32 on the wire under the Java-int parity cap, uint64 beyond it
#: (extended mode; wire kind 'sparse64').
_SPARSE_POS_BYTES = 4

COUNTING_PARTIAL_SCHEMA = (
    "part_id int, rows bigint, nonzero bigint, overflows bigint, "
    "fingerprint bigint, t_ms double, kind string, counters binary"
)


def _series_to_keys(series: pd.Series) -> Keys:
    """pandas column -> contiguous Keys buffer (one C-level encode).

    Matches BloomFilter.toBytes (BloomFilter.java:152-154): the UTF-8
    bytes of the element's string form; binary columns pass through.
    """
    return keys_from_pandas(series)


def key_column(col: str, cast: bool = True) -> Column:
    """Normalize the key column: everything hashes as its string form,
    like the reference's toString()-based toBytes."""
    c = F.col(col)
    return c.cast("string") if cast else c


def spread_repartition(df: DataFrame, num_partitions: int, col: str) -> DataFrame:
    """``df.repartition(n)`` for the partial builds, keyed on
    ``xxhash64(col)`` instead of round-robin.

    Round-robin repartition pays a local sort of every input partition
    (``spark.sql.execution.sortBeforeRepartition``, SPARK-23207) so that
    retried tasks reproduce their row assignment; hashing a
    deterministic per-row key needs no sort and measured 0.27 s vs
    0.63 s for the same 600k-row exchange (round-7, bench_extra).  The
    key's xxhash64 spreads evenly whenever the column has >> n distinct
    values (the build inputs' normal shape); duplicate keys co-locating
    is welcome — their positions dedupe inside one partial.  Callers
    repartitioning a near-constant column should pre-partition
    themselves.  Partial merges are associative/commutative, so ANY
    row-to-partition assignment yields the identical filter."""
    return df.repartition(num_partitions, F.xxhash64(F.col(col)))


def reserve_probe_cols(
    df: DataFrame,
    out_col: str,
    *,
    exact: tuple = (),
    prefix: str | None = None,
    tier: str = "probe",
) -> None:
    """Probe paths stage fixed-name temp columns on the probe df and
    append ``out_col``; a caller column with one of those names would be
    silently clobbered (withColumn) or duplicated (select) — refuse
    loudly.  Shared contract of the fast (``prefix='__f'``) and sharded
    (``exact=('__key', '__shard')``) tiers."""
    clash = [
        c
        for c in df.columns
        if c == out_col
        or c in exact
        or (prefix is not None and c.startswith(prefix))
    ]
    if clash:
        parts = [f"out_col {out_col!r}"]
        if exact:
            parts.append("/".join(repr(e) for e in exact))
        if prefix is not None:
            parts.append(f"the {prefix!r}* temp prefix")
        raise ValueError(
            f"column(s) {clash} collide with the {tier} probe's reserved "
            f"names ({' and '.join(parts)}); rename or drop them before "
            "probing"
        )


_PARTIAL_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("rows", pa.int64()),
        ("ones", pa.int64()),
        ("fingerprint", pa.int64()),
        ("t_ms", pa.float64()),
        ("kind", pa.string()),
        ("bitset", pa.binary()),
    ]
)


def positions_to_dense_bits(uniq: np.ndarray, m: int, num_bytes: int) -> np.ndarray:
    """Distinct bit positions -> packed little-endian uint8 bitset.

    Small m: one bool scatter + packbits.  Huge m (> BOOL_SCATTER_LIMIT
    bits): chunked scatter so peak memory stays bounded instead of
    allocating an m-byte bool array."""
    if m <= BOOL_SCATTER_LIMIT:
        seen = np.zeros(m, dtype=bool)
        seen[uniq] = True
        bits = np.packbits(seen, bitorder="little")
        if bits.size < num_bytes:
            bits = np.pad(bits, (0, num_bytes - bits.size))
        return bits
    bits = np.zeros(num_bytes, dtype=np.uint8)
    uniq = np.sort(uniq)
    chunk_bits = BOOL_SCATTER_LIMIT >> 2
    for start in range(0, m, chunk_bits):
        lo = np.searchsorted(uniq, start)
        hi = np.searchsorted(uniq, min(start + chunk_bits, m))
        if lo == hi:
            continue
        width = min(chunk_bits, m - start)
        local = np.zeros(width, dtype=bool)
        local[uniq[lo:hi] - start] = True
        packed = np.packbits(local, bitorder="little")
        bits[start >> 3 : (start >> 3) + packed.size] |= packed
    return bits


class _PositionAccumulator:
    """Per-partition distinct-positions accumulator.

    Stays sparse (concatenated position chunks, compacted by np.unique
    when they grow) and densifies only once the sparse form would be
    larger than the bitset — so a partition's cost is
    O(rows_seen * k), not O(m), when its fill is low.  This is what
    keeps per-partition work sane at 10^9-bit filters where each
    partition touches a tiny fraction of the bits."""

    __slots__ = ("m", "num_bytes", "chunks", "count", "seen", "pos_bytes")

    def __init__(self, m: int, num_bytes: int):
        self.m = m
        self.num_bytes = num_bytes
        self.chunks = []
        self.count = 0
        self.seen = None  # dense bool array once triggered
        # extended mode (m past the Java-int cap) carries uint64 positions
        self.pos_bytes = 8 if m > 0x7FFFFFFF else _SPARSE_POS_BYTES

    def add(self, pos: np.ndarray) -> None:
        flat = pos.ravel()
        if self.seen is not None:
            self.seen[flat] = True
            return
        self.chunks.append(flat)
        self.count += flat.size
        if self.count * self.pos_bytes > self.num_bytes:
            if self.m <= BOOL_SCATTER_LIMIT:
                self.seen = np.zeros(self.m, dtype=bool)
                for c in self.chunks:
                    self.seen[c] = True
                self.chunks = []
            elif self.count > (1 << 25):
                merged = np.unique(np.concatenate(self.chunks))
                self.chunks = [merged]
                self.count = merged.size

    def finish(self):
        """-> (kind, ones, payload_bytes)."""
        if self.seen is not None:
            bits = np.packbits(self.seen, bitorder="little")
            if bits.size < self.num_bytes:
                bits = np.pad(bits, (0, self.num_bytes - bits.size))
            kind, payload = _encode_dense(bits)
            return kind, popcount(bits), payload
        uniq = (
            np.unique(np.concatenate(self.chunks))
            if self.chunks
            else np.zeros(0, dtype=np.uint32)
        )
        if uniq.size * self.pos_bytes >= self.num_bytes:
            bits = positions_to_dense_bits(uniq, self.m, self.num_bytes)
            kind, payload = _encode_dense(bits)
            return kind, uniq.size, payload
        kind, payload = _encode_sparse(uniq, self.pos_bytes)
        return kind, uniq.size, payload


#: Optional wire compression for partials: sorted sparse positions
#: delta-encode (uniform gaps are small ints, so 3 of 4 bytes are zero)
#: then deflate level 1; dense bitsets deflate directly (low-fill
#: partials are mostly zero bytes).  DEFAULT OFF: measured on this box,
#: deflate cost EXCEEDS the transfer savings (8-core scaling leg 12.6s
#: -> 19.2s with deflate on) because Spark already lz4-compresses
#: shuffle/collect at the transport layer and local "network" is the
#: memory bus.  Opt in with BLOOMSPARK_PARTIAL_CODEC=deflate for
#: clusters whose cross-node links are the genuine bottleneck (set it
#: via spark.executorEnv so workers see it too).  The decoder always
#: understands every kind, so mixed fleets merge fine.
import os as _os

_PARTIAL_CODEC = _os.environ.get("BLOOMSPARK_PARTIAL_CODEC", "none")
_Z_MIN_BYTES = (1 << 14) if _PARTIAL_CODEC == "deflate" else None
_Z_SAVINGS = 0.9


def _encode_sparse(uniq: np.ndarray, pos_bytes: int):
    """sorted positions -> ('sparse'|'sparse64'[&'_z'], payload)."""
    dt = np.uint64 if pos_bytes == 8 else np.uint32
    base = "sparse64" if pos_bytes == 8 else "sparse"
    raw = uniq.astype(dt)
    raw_bytes = raw.tobytes()
    if _Z_MIN_BYTES is not None and len(raw_bytes) >= _Z_MIN_BYTES:
        delta = np.diff(raw, prepend=dt(0))
        comp = zlib.compress(delta.tobytes(), 1)
        if len(comp) < _Z_SAVINGS * len(raw_bytes):
            return base + "_z", comp
    return base, raw_bytes


def _encode_dense(bits: np.ndarray):
    raw = bits.tobytes()
    if _Z_MIN_BYTES is not None and len(raw) >= _Z_MIN_BYTES:
        comp = zlib.compress(raw, 1)
        if len(comp) < _Z_SAVINGS * len(raw):
            return "dense_z", comp
    return "dense", raw


def _decode_sparse(kind: str, payload: bytes) -> np.ndarray:
    dt = np.uint64 if kind.startswith("sparse64") else np.uint32
    if kind.endswith("_z"):
        delta = np.frombuffer(zlib.decompress(payload), dtype=dt)
        return np.cumsum(delta, dtype=dt)
    return np.frombuffer(payload, dtype=dt)


def partial_to_bits(kind: str, payload: bytes, config: FilterConfig) -> np.ndarray:
    if kind == "dense":
        return np.frombuffer(payload, dtype=np.uint8)
    if kind == "dense_z":
        return np.frombuffer(zlib.decompress(payload), dtype=np.uint8)
    return positions_to_dense_bits(
        _decode_sparse(kind, payload), config.m, config.num_bytes
    )


def _partition_bits_builder(config: FilterConfig):
    """mapInArrow generator: one (part_id, metrics, kind, payload) row per
    partition — the partial-aggregate step.  Keys never leave Arrow's
    contiguous UTF-8 buffers (zero Python objects per row), and the
    partial is sparse (distinct positions) or dense (packed bits),
    whichever is smaller."""
    m, k = config.m, config.k
    method = config.hash_method
    num_bytes = config.num_bytes

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.time()
        acc = _PositionAccumulator(m, num_bytes)
        rows = 0
        fingerprint = np.uint64(0)
        with np.errstate(over="ignore"):
            for batch in batches:
                keys = Keys.from_arrow(batch.column(0))
                if len(keys) == 0:
                    continue
                pos, fp = _hash_with_fingerprint(keys, config)
                acc.add(pos)
                rows += len(keys)
                fingerprint += fp
        kind, ones, payload = acc.finish()
        ctx = TaskContext.get()
        yield pa.RecordBatch.from_pydict(
            {
                "part_id": [ctx.partitionId() if ctx else -1],
                "rows": [rows],
                "ones": [int(ones)],
                "fingerprint": [int(fingerprint % np.uint64(2**63))],
                "t_ms": [(time.time() - t0) * 1000.0],
                "kind": [kind],
                "bitset": [payload],
            },
            schema=_PARTIAL_PA_SCHEMA,
        )

    return gen


def _merge_partial_arrays(kinds, payloads, config: FilterConfig) -> np.ndarray:
    """OR a set of sparse/dense partials into one dense bitset.

    All sparse payloads merge through ONE concatenate+scatter (instead of
    one O(m) conversion each); dense payloads OR directly."""
    acc = np.zeros(config.num_bytes, dtype=np.uint8)
    sparse = []
    for kind, payload in zip(kinds, payloads):
        if kind == "dense":
            np.bitwise_or(acc, np.frombuffer(payload, dtype=np.uint8), out=acc)
        elif kind == "dense_z":
            np.bitwise_or(
                acc, np.frombuffer(zlib.decompress(payload), dtype=np.uint8), out=acc
            )
        else:
            sparse.append(_decode_sparse(kind, payload))
    if sparse:
        if len({a.dtype for a in sparse}) > 1:
            sparse = [a.astype(np.uint64) for a in sparse]
        pos = np.unique(np.concatenate(sparse))
        np.bitwise_or(
            acc, positions_to_dense_bits(pos, config.m, config.num_bytes), out=acc
        )
    return acc


def _or_merge_partials(config: FilterConfig):
    """applyInPandas reducer: OR a group of partials into one dense row.
    Associative + commutative, so Spark may group/evaluate in any order."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = _merge_partial_arrays(pdf["kind"], pdf["bitset"], config)
        kind, payload = _encode_dense(acc)
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].min())],
                "rows": [int(pdf["rows"].sum())],
                "ones": [popcount(acc)],
                "fingerprint": [int(pdf["fingerprint"].astype(np.uint64).sum() % np.uint64(2**63))],
                "t_ms": [float(pdf["t_ms"].sum())],
                "kind": [kind],
                "bitset": [payload],
            }
        )

    return merge


def build_partials(df: DataFrame, col: str, config: FilterConfig) -> DataFrame:
    """Per-partition partial bitsets as a DataFrame (the map-side combine).

    One output row per input partition:
    ``(part_id, rows, ones, fingerprint, t_ms, bitset)``.
    """
    keyed = df.select(key_column(col).alias("__key"))
    return keyed.mapInArrow(_partition_bits_builder(config), schema=PARTIAL_SCHEMA)


def merge_partial_rows(rows, config: FilterConfig) -> BloomFilter:
    """Driver-side final merge of collected partial rows."""
    acc = _merge_partial_arrays(
        [r["kind"] for r in rows], [r["bitset"] for r in rows], config
    )
    return BloomFilter(config, acc)


def _collect_arrow(df: DataFrame):
    """Collect a partials DataFrame through the Arrow path — row-based
    collect() of multi-MB binary payloads through py4j is several times
    slower than toPandas() with Arrow enabled."""
    try:
        df.sparkSession.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    pdf = df.toPandas()
    return pdf.to_dict("records")


def build_bloom_report(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    **kwargs,
):
    """build_bloom + a metrics/lineage report dict: wall time, rows,
    ones, per-collected-partial metrics (per input partition when no
    tree merge ran, per merge group otherwise), throughput."""
    t0 = time.time()
    bf, rows = _build_bloom_impl(df, col, config, **kwargs)
    wall = time.time() - t0
    total_rows = int(sum(r["rows"] for r in rows))
    report = {
        "wall_sec": wall,
        "rows": total_rows,
        "rows_per_sec": total_rows / wall if wall > 0 else None,
        "ones": bf.cardinality(),
        "fill_ratio": bf.cardinality() / config.m,
        "estimated_population": bf.get_estimated_population(),
        "config": config.to_dict(),
        "partials": [
            {
                "part_id": r["part_id"],
                "rows": r["rows"],
                "ones": r["ones"],
                "fingerprint": r["fingerprint"],
                "t_ms": r["t_ms"],
                "kind": r["kind"],
            }
            for r in rows
        ],
    }
    return bf, report


def build_bloom(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    *,
    num_partitions: Optional[int] = None,
    tree_merge_threshold: Optional[int] = None,
    tree_merge_groups: int = DEFAULT_TREE_MERGE_GROUPS,
) -> BloomFilter:
    """Build a Bloom filter over ``df[col]`` distributed.

    Lifecycle (SURVEY.md §3.1): scan -> select key (column pruning pushes
    to the source) -> mapInArrow partials -> [executor tree merge when the
    partials would swamp the driver] -> driver OR-merge.  No shuffle in
    the default path; the tree merge shuffles only P partial rows.
    """
    n_parts = _resolve_num_partitions(df, num_partitions)
    if num_partitions is not None:
        df = spread_repartition(df, num_partitions, col)
    partials = build_partials(df, col, config)
    if _should_tree_merge(n_parts, config.num_bytes, tree_merge_threshold):
        # two executor-side reduction levels: P -> groups -> 1, so the
        # driver collects ONE partial instead of `groups` multi-MB rows —
        # the driver-side serial fraction is what caps scaling efficiency
        partials = (
            partials.withColumn(
                "part_id", F.pmod(F.col("part_id"), F.lit(tree_merge_groups))
            )
            .groupBy("part_id")
            .applyInPandas(_or_merge_partials(config), schema=PARTIAL_SCHEMA)
        )
        partials = (
            partials.withColumn("part_id", F.lit(0))
            .groupBy("part_id")
            .applyInPandas(_or_merge_partials(config), schema=PARTIAL_SCHEMA)
        )
    rows = _collect_arrow(partials)
    bf = merge_partial_rows(rows, config)
    return bf


def _build_bloom_impl(df, col, config, **kwargs):
    """build_bloom, but also returning the collected partial rows (for
    the metrics report)."""
    num_partitions = kwargs.get("num_partitions")
    tree_merge_threshold = kwargs.get("tree_merge_threshold")
    tree_merge_groups = kwargs.get("tree_merge_groups", DEFAULT_TREE_MERGE_GROUPS)
    n_parts = _resolve_num_partitions(df, num_partitions)
    if num_partitions is not None:
        df = spread_repartition(df, num_partitions, col)
    partials = build_partials(df, col, config)
    if _should_tree_merge(n_parts, config.num_bytes, tree_merge_threshold):
        partials = (
            partials.withColumn(
                "part_id", F.pmod(F.col("part_id"), F.lit(tree_merge_groups))
            )
            .groupBy("part_id")
            .applyInPandas(_or_merge_partials(config), schema=PARTIAL_SCHEMA)
        )
    rows = _collect_arrow(partials)
    return merge_partial_rows(rows, config), rows


# ---------------------------------------------------------------------------
# Counting build
# ---------------------------------------------------------------------------


_COUNTING_PARTIAL_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("rows", pa.int64()),
        ("nonzero", pa.int64()),
        ("overflows", pa.int64()),
        ("fingerprint", pa.int64()),
        ("t_ms", pa.float64()),
        ("kind", pa.string()),
        ("counters", pa.binary()),
    ]
)

#: Dense counting partials allocate an m x dtype array; past this byte
#: size the accumulator stays sparse regardless of fill (extended-m
#: filters never densify — a 2^33-slot uint16 array is 16 GiB).
_COUNTING_DENSE_ALLOC_LIMIT = 1 << 31
#: Compact the sparse (pos, cnt) chunks once this many entries
#: accumulate (bounds the transient memory between compactions).
_COUNTING_COMPACT_ENTRIES = 1 << 24


def _sum_by_position(pos: np.ndarray, cnt: np.ndarray):
    """(sorted distinct positions, per-position uint64 count sums) via
    one argsort + cumsum-diff — the vectorized groupBy-sum that keeps
    compaction O(E log E) with no np.add.at scatter."""
    order = np.argsort(pos, kind="stable")
    sp = pos[order]
    sc = cnt[order].astype(np.uint64)
    if sp.size == 0:
        return sp, sc
    boundaries = np.flatnonzero(sp[1:] != sp[:-1]) + 1
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [sp.size]))
    csum = np.concatenate(([np.uint64(0)], np.cumsum(sc, dtype=np.uint64)))
    return sp[starts], csum[ends] - csum[starts]


class _CounterAccumulator:
    """Per-partition (position -> count) accumulator, the counting twin
    of :class:`_PositionAccumulator` (round-3 verdict item 1: the dense
    ``m x dtype`` partial was the last m-proportional wire payload).

    Stays sparse — (pos, cnt) chunk pairs, compacted by a sort-merge sum
    when they grow — and densifies only once the sparse wire form would
    exceed the dense array AND the dense array is allocatable.  A
    partition's memory and wire cost is O(distinct positions seen), not
    O(m): what keeps the PARTIALS and their tree merge m-free at
    extended m (m > 2^31) — note ``build_counting`` still materializes
    an m-sized driver array at the very end and guards that allocation
    with ``max_driver_bytes``; only the fully distributed tiers
    (fast_counting_positions, sharded counting) avoid O(m) driver
    memory outright.  Same reason the reference's Redis counting tier
    pipelines sparse position->count maps instead of shipping the
    counter array (redis/CountingBloomFilterRedis.java:55-108).

    Counts saturate at the counter max during compaction; saturating add
    is associative up to saturation, so clamping early vs late yields
    the same final counters.  ``overflows`` counts clamp events (same
    at-least-once granularity as the previous per-batch clamping).
    """

    __slots__ = (
        "m", "dt", "mx", "pos_dt", "entry_bytes", "dense_bytes",
        "dense_limit", "pos_chunks", "cnt_chunks", "count", "dense",
        "overflows",
    )

    def __init__(self, config: FilterConfig, dense_limit: Optional[int] = None):
        self.m = config.m
        self.dt = counter_dtype(config.counting_bits)
        self.mx = np.uint64(counter_max(config.counting_bits))
        self.pos_dt = np.uint64 if config.m > 0x7FFFFFFF else np.uint32
        self.entry_bytes = np.dtype(self.pos_dt).itemsize + self.dt.itemsize
        self.dense_bytes = config.m * self.dt.itemsize
        # captured at construction (driver side for the builder closures)
        # so policy overrides propagate to executors with the closure
        self.dense_limit = (
            _COUNTING_DENSE_ALLOC_LIMIT if dense_limit is None else dense_limit
        )
        self.pos_chunks = []
        self.cnt_chunks = []
        self.count = 0
        self.dense = None
        self.overflows = 0

    def _add_dense(self, upos: np.ndarray, ucnt: np.ndarray) -> None:
        wide = self.dense[upos].astype(np.uint64) + ucnt.astype(np.uint64)
        over = int(np.count_nonzero(wide > self.mx))
        if over:
            self.overflows += over
            np.minimum(wide, self.mx, out=wide)
        self.dense[upos] = wide.astype(self.dt)

    def add(self, pos: np.ndarray, weight: int = 1) -> None:
        # per-batch pre-aggregation: positions -> distinct (pos, count)
        upos, ucnt = np.unique(pos.ravel(), return_counts=True)
        if weight != 1:
            ucnt = ucnt * weight
        self.add_pairs(upos, ucnt)

    def add_pairs(self, upos: np.ndarray, ucnt: np.ndarray) -> None:
        """Accumulate pre-aggregated (position, count) pairs (positions
        MAY repeat across calls — compaction sums them)."""
        if self.dense is not None:
            self._add_dense(upos, ucnt)
            return
        self.pos_chunks.append(upos)
        self.cnt_chunks.append(ucnt.astype(np.uint64))
        self.count += upos.size
        if (
            self.count * self.entry_bytes > self.dense_bytes
            and self.dense_bytes <= self.dense_limit
        ):
            self.dense = np.zeros(self.m, dtype=self.dt)
            for upos, ucnt in zip(self.pos_chunks, self.cnt_chunks):
                self._add_dense(upos, ucnt)
            self.pos_chunks, self.cnt_chunks = [], []
        elif self.count > _COUNTING_COMPACT_ENTRIES:
            self._compact()

    def add_payload(self, kind: str, payload: bytes, config: FilterConfig) -> None:
        """Accumulate one wire partial of any kind — makes the
        accumulator double as the executor-side tree-merge kernel (a
        sparse-in, sparse-out merge never materializes an m-sized array
        at extended m)."""
        if kind in ("cdense", "", None):
            arr = np.frombuffer(payload, dtype=self.dt)
            nz = np.nonzero(arr)[0]
            self.add_pairs(nz.astype(self.pos_dt), arr[nz].astype(np.uint64))
            return
        if kind not in ("csparse", "csparse64"):
            raise ValueError(f"unknown counting partial kind {kind!r}")
        pos, cnt = _decode_counting_pairs(kind, payload, config)
        if pos.size:
            self.add_pairs(pos, cnt.astype(np.uint64))

    def _compact(self) -> None:
        upos, sums = _sum_by_position(
            np.concatenate(self.pos_chunks), np.concatenate(self.cnt_chunks)
        )
        over = int(np.count_nonzero(sums > self.mx))
        if over:
            self.overflows += over
            np.minimum(sums, self.mx, out=sums)
        self.pos_chunks, self.cnt_chunks = [upos], [sums]
        self.count = upos.size

    def finish(self):
        """-> (kind, nonzero, overflows, payload_bytes)."""
        if self.dense is not None:
            return (
                "cdense",
                int(np.count_nonzero(self.dense)),
                self.overflows,
                self.dense.tobytes(),
            )
        if self.pos_chunks:
            self._compact()
            upos, sums = self.pos_chunks[0], self.cnt_chunks[0]
        else:
            upos = np.zeros(0, dtype=self.pos_dt)
            sums = np.zeros(0, dtype=np.uint64)
        kind = "csparse64" if self.pos_dt is np.uint64 else "csparse"
        payload = upos.astype(self.pos_dt).tobytes() + sums.astype(self.dt).tobytes()
        return kind, int(upos.size), self.overflows, payload


def _decode_counting_pairs(kind: str, payload: bytes, config: FilterConfig):
    """sparse counting payload -> (positions, counts) arrays."""
    pos_dt = np.uint64 if kind == "csparse64" else np.uint32
    dt = counter_dtype(config.counting_bits)
    entry = np.dtype(pos_dt).itemsize + dt.itemsize
    n = len(payload) // entry
    split = n * np.dtype(pos_dt).itemsize
    pos = np.frombuffer(payload, dtype=pos_dt, count=n)
    cnt = np.frombuffer(payload, dtype=dt, count=n, offset=split)
    return pos, cnt


def add_counting_payload(
    acc: np.ndarray, kind: str, payload: bytes, config: FilterConfig, on_overflow
) -> None:
    """Saturating-add ONE counting partial of any wire kind into a dense
    counter array — the single merge kernel every counting merge path
    (executor tree merge, driver final merge, checkpoint resume) uses, so
    mixed sparse/dense fleets always merge (CLAUDE.md invariant)."""
    dt = counter_dtype(config.counting_bits)
    mx = counter_max(config.counting_bits)
    if kind in ("cdense", "", None):  # '' / None: pre-kind dense payloads
        add_saturating(acc, np.frombuffer(payload, dtype=dt), mx, on_overflow)
        return
    if kind not in ("csparse", "csparse64"):
        raise ValueError(f"unknown counting partial kind {kind!r}")
    pos, cnt = _decode_counting_pairs(kind, payload, config)
    if pos.size == 0:
        return
    wide = acc[pos].astype(np.uint64) + cnt.astype(np.uint64)
    over = int(np.count_nonzero(wide > np.uint64(mx)))
    if over:
        on_overflow(over)
        np.minimum(wide, np.uint64(mx), out=wide)
    acc[pos] = wide.astype(acc.dtype)


def _partition_counters_builder(config: FilterConfig, weight: int):
    dense_limit = _COUNTING_DENSE_ALLOC_LIMIT  # freeze policy driver-side

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.time()
        acc = _CounterAccumulator(config, dense_limit)
        rows = 0
        fingerprint = np.uint64(0)
        for batch in batches:
            keys = Keys.from_arrow(batch.column(0))
            if len(keys) == 0:
                continue
            pos, fp = _hash_with_fingerprint(keys, config)
            acc.add(pos, weight)
            rows += len(keys)
            with np.errstate(over="ignore"):
                fingerprint += fp
        kind, nonzero, overflows, payload = acc.finish()
        ctx = TaskContext.get()
        yield pa.RecordBatch.from_pydict(
            {
                "part_id": [ctx.partitionId() if ctx else -1],
                "rows": [rows],
                "nonzero": [nonzero],
                "overflows": [overflows],
                "fingerprint": [int(fingerprint % np.uint64(2**63))],
                "t_ms": [(time.time() - t0) * 1000.0],
                "kind": [kind],
                "counters": [payload],
            },
            schema=_COUNTING_PARTIAL_PA_SCHEMA,
        )

    return gen


def build_counting_partials(
    df: DataFrame, col: str, config: FilterConfig, weight: int = 1
) -> DataFrame:
    keyed = df.select(key_column(col).alias("__key"))
    return keyed.mapInArrow(
        _partition_counters_builder(config, weight), schema=COUNTING_PARTIAL_SCHEMA
    )


def build_counting(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    *,
    num_partitions: Optional[int] = None,
    tree_merge_threshold: Optional[int] = None,
    tree_merge_groups: int = DEFAULT_TREE_MERGE_GROUPS,
    max_driver_bytes: int = 4 << 30,
) -> CountingBloomFilter:
    """Distributed counting-filter build: per-partition uint counters,
    merged by element-wise saturating add (associative & commutative up
    to saturation — the extension that makes the counting filter
    distributable; see counting.py module docstring).

    The partials and their tree merge stay m-free (sparse wire kinds),
    but the RETURN TYPE is a driver-held ``CountingBloomFilter`` whose
    counter array is m x dtype bytes.  Rather than dying by OOM deep in
    numpy at huge extended m (2^33 slots x 16-bit = 16 GiB), the build
    refuses up front when that allocation would exceed
    ``max_driver_bytes`` (default 4 GiB) and points at the tiers that
    never materialize a driver array."""
    counters_bytes = config.m * counter_dtype(config.counting_bits).itemsize
    if counters_bytes > max_driver_bytes:
        raise ValueError(
            f"build_counting would allocate a {counters_bytes / 2**30:.1f} "
            f"GiB driver-side counter array (m={config.m}, "
            f"{config.counting_bits}-bit counters), over the "
            f"max_driver_bytes limit of {max_driver_bytes / 2**30:.1f} GiB. "
            "At this scale keep the counters distributed: "
            "fast_counting_positions + with_fast_estimated_count("
            "strategy='exploded'), or the sharded counting tier "
            "(build_sharded_counting). Pass max_driver_bytes to raise the "
            "limit if the driver really has the memory."
        )
    n_parts = _resolve_num_partitions(df, num_partitions)
    if num_partitions is not None:
        df = spread_repartition(df, num_partitions, col)
    partials = build_counting_partials(df, col, config)
    counters_bytes = config.m * counter_dtype(config.counting_bits).itemsize
    if _should_tree_merge(n_parts, counters_bytes, tree_merge_threshold):
        dense_limit = _COUNTING_DENSE_ALLOC_LIMIT  # freeze policy driver-side

        def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            # merge THROUGH the hybrid accumulator: sparse inputs merge
            # sparsely (no m-sized array at extended m) and the output
            # partial re-chooses the smaller wire form
            acc = _CounterAccumulator(config, dense_limit)
            for kind, b in zip(pdf["kind"], pdf["counters"]):
                acc.add_payload(kind, b, config)
            kind, nonzero, over, payload = acc.finish()
            return pd.DataFrame(
                {
                    "part_id": [int(pdf["part_id"].min())],
                    "rows": [int(pdf["rows"].sum())],
                    "nonzero": [nonzero],
                    "overflows": [int(pdf["overflows"].sum()) + over],
                    "fingerprint": [int(pdf["fingerprint"].astype(np.uint64).sum() % np.uint64(2**63))],
                    "t_ms": [float(pdf["t_ms"].sum())],
                    "kind": [kind],
                    "counters": [payload],
                }
            )

        partials = (
            partials.withColumn(
                "part_id", F.pmod(F.col("part_id"), F.lit(tree_merge_groups))
            )
            .groupBy("part_id")
            .applyInPandas(merge_group, schema=COUNTING_PARTIAL_SCHEMA)
        )
    rows = _collect_arrow(partials)
    cbf = CountingBloomFilter(config)
    total_over = 0
    for row in rows:
        add_counting_payload(
            cbf.counters, row.get("kind", "cdense"), row["counters"], config,
            cbf._on_overflow,
        )
        total_over += int(row["overflows"])
    cbf._overflows += total_over
    return cbf


def build_counting_with_removals(
    adds: DataFrame,
    removes: DataFrame,
    col: str,
    config: FilterConfig,
) -> CountingBloomFilter:
    """Distributed remove (SURVEY.md §3.3): removals aggregate into a
    second counter sketch subtracted (floored at 0) from the adds sketch
    — merge order is irrelevant by associativity, so no transactional
    machinery is needed (vs. redis/CountingBloomFilterRedis.java:119-156)."""
    added = build_counting(adds, col, config)
    removed = build_counting(removes, col, config)
    return added.subtract(removed)
