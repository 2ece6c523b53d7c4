"""Single-process oracles: the answers each timed call must reproduce.

Every oracle here reads the generated parquet inputs with pyarrow on the
driver and recomputes the result with numpy from
``bloomspark.hashing.hash_positions`` — no Spark, no partitioning, no
merge — so a disagreement points at the distributed lifecycle
(partition, partial, merge), not at the hash kernels, whose Java parity
``tests/test_hashing.py`` pins.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from bloomspark.hashing import Keys, hash_positions


def md5(data) -> str:
    return hashlib.md5(bytes(data)).hexdigest()


def read_column(path: str, col: str):
    return pq.read_table(path, columns=[col]).column(col).combine_chunks()


def read_keys(path: str, col: str = "sha") -> Keys:
    return Keys.from_arrow(read_column(path, col))


def positions(keys: Keys, config) -> np.ndarray:
    return hash_positions(keys, config.m, config.k, config.hash_method)


def bloom_bits(pos: np.ndarray, config) -> np.ndarray:
    """Packed bitset, bit i of byte j is position 8j+i (little-endian)."""
    seen = np.zeros(config.num_bytes * 8, dtype=bool)
    seen[pos.ravel()] = True
    return np.packbits(seen, bitorder="little")


def counters(pos: np.ndarray, config) -> np.ndarray:
    """Per-position increments; a key whose k positions repeat adds each
    repeat, as the reference's counting filter does."""
    counts = np.bincount(pos.ravel().astype(np.int64), minlength=config.m)
    limit = (1 << config.counting_bits) - 1
    if counts.max(initial=0) > limit:
        raise ValueError("oracle counters saturate; size the workload down")
    return counts.astype(f"<u{config.counting_bits // 8}")


def members(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    got = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & np.uint8(1)
    return got.all(axis=1)


def estimated_count_sum(cnt: np.ndarray, pos: np.ndarray) -> int:
    return int(cnt[pos].min(axis=1).astype(np.int64).sum())


def group_bits(groups, keys: Keys, config) -> dict:
    """{group: packed bitset} for a per-group build."""
    pos = positions(keys, config)
    groups = np.asarray(groups)
    return {
        g: bloom_bits(pos[groups == g], config) for g in np.unique(groups)
    }


def group_counters(groups, keys: Keys, config) -> dict:
    pos = positions(keys, config)
    groups = np.asarray(groups)
    return {g: counters(pos[groups == g], config) for g in np.unique(groups)}


def value_counts(path: str, col: str) -> dict:
    vc = pc.value_counts(read_column(path, col))
    return {
        str(v): int(c)
        for v, c in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist())
    }
