"""Seeded input generation for the benchmark.

Every input is a pure function of (workload, seed): the same seed
gives byte-identical parquet files. The program only ever sees these
files, never the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Layout:
    """Input properties that differ between workloads."""

    corpus_files: int
    corpus_rows: int
    block_rows: int
    hot_keys: bool  # one key owns 25% of the keyed table's rows


WORKLOADS = {
    # 4 files of 2 blocks: the global dictionary carries state across a
    # block boundary, and the keyed table's hot key engages the skew split.
    "multiblock_zipf": Layout(corpus_files=4, corpus_rows=4 * 2 * 4096,
                              block_rows=4096, hot_keys=True),
    # the same files cut as one block each, with uniform keys: the
    # dictionary never crosses a block and no key is hot.
    "singleblock_uniform": Layout(corpus_files=4, corpus_rows=4 * 2 * 4096,
                                  block_rows=2 * 4096, hot_keys=False),
}

TABLE_FILES = 4  # the keyed table is this many row_id-ordered parquet files
N_KEYED = 40_000
N_KEYS = 5_000


def write_keyed(dir_path: str, layout: Layout, seed: int) -> str:
    """A (row_id, k, v) table as a directory of row_id-ordered parquet
    files; with ``layout.hot_keys`` key 0 owns every fourth row, the
    skew of the repository's 25%-hot-key join and window probes."""
    rng = np.random.default_rng(seed)
    row_id = np.arange(N_KEYED, dtype=np.int64)
    if layout.hot_keys:
        k = np.where(row_id % 4 == 0, 0, rng.integers(1, N_KEYS, N_KEYED))
    else:
        k = rng.integers(0, N_KEYS, N_KEYED)
    keyed = pa.table({
        "row_id": row_id,
        "k": k.astype(np.int64),
        "v": rng.integers(0, 97, N_KEYED).astype(np.int64),
    })
    os.makedirs(dir_path, exist_ok=True)
    step = -(-N_KEYED // TABLE_FILES)
    for i in range(TABLE_FILES):
        pq.write_table(keyed.slice(i * step, step), os.path.join(dir_path, f"part-{i}.parquet"))
    return dir_path
