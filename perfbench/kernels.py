"""Kernel-only probe: the encode-side and decode-side kernels timed in
this one process, with no Spark, over the workload's own blocks.

The blocks are cut exactly as files-mode encode cuts them (one source
file at a time, ``block_rows`` rows per block, one running dictionary
per file and column), so the kernels see the dictionary state they see
inside a Spark task. ``encode_*_block`` profiles and chooses inside
itself, so ``codecs.encode_mbps`` times the whole per-block kernel;
profile and choice are also timed alone.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CODECS = ["plain", "fsst", "rle_str", "dict_local", "dict_global",
          "plain_int", "bitpack", "for_int", "delta_int", "rle_int"]


def _same_block(a, b) -> bool:
    if hasattr(a, "payload"):
        same = np.array_equal(a.lengths, b.lengths) and bytes(a.payload) == bytes(b.payload)
    else:
        same = np.array_equal(a.values, b.values)
    va = a.validity if a.validity is not None else np.ones(a.n, bool)
    vb = b.validity if b.validity is not None else np.ones(b.n, bool)
    return same and np.array_equal(va, vb)


def probe(corpus_dir: str, block_rows: int, columns: list[tuple[str, str]],
          tmp_dir: str) -> tuple[dict[str, float], list[str]]:
    """Returns (metrics, errors). ``columns`` is the encoded table's
    [(name, vtype)] list, read from its manifest; ``tmp_dir`` receives
    the probe's own blocks and manifest and is removed afterwards."""
    from arcade_spark.blocks import StrBlock
    from arcade_spark.convert import arrow_to_block
    from arcade_spark.core import (decode_int_block, decode_str_block,
                                   encode_int_block, encode_str_block)
    from arcade_spark.gdict import GlobalDict, GlobalDictDecoder
    from arcade_spark.manifest import PartWriter
    from arcade_spark.selector import choose_int_codec, choose_str_codec
    from arcade_spark.stats import profile_int_block, profile_str_block

    files = sorted(os.path.join(corpus_dir, f) for f in os.listdir(corpus_dir)
                   if f.endswith(".parquet"))
    names = [n for n, _ in columns]
    raw = dict.fromkeys(names, 0)
    enc_s = dict.fromkeys(names, 0.0)
    dec_s = dict.fromkeys(names, 0.0)
    profile_s = choose_s = write_s = 0.0
    decisions = 0
    errors: list[str] = []
    shutil.rmtree(tmp_dir, ignore_errors=True)

    for pid, path in enumerate(files):
        gdicts = {n: GlobalDict() for n in names}
        gdecs = {n: GlobalDictDecoder() for n in names}
        writer = PartWriter(tmp_dir, pid, "probe", columns=columns)
        for block_id, rb in enumerate(
                pq.ParquetFile(path).iter_batches(batch_size=block_rows)):
            table = pa.Table.from_batches([rb])
            chunk_rows = []
            for name, vtype in columns:
                block = arrow_to_block(table.column(name), vtype)
                is_str = isinstance(block, StrBlock)
                t0 = time.perf_counter()
                stats = profile_str_block(block) if is_str else profile_int_block(block)
                t1 = time.perf_counter()
                if is_str:
                    choose_str_codec(stats, gdicts[name], block)
                else:
                    choose_int_codec(stats)
                t2 = time.perf_counter()
                if is_str:
                    blob, meta = encode_str_block(block, gdicts[name])
                else:
                    blob, meta = encode_int_block(block, vtype)
                t3 = time.perf_counter()
                if is_str:
                    back = decode_str_block(blob, meta, gdecs[name])
                else:
                    back = decode_int_block(blob, meta)
                t4 = time.perf_counter()
                profile_s += t1 - t0
                choose_s += t2 - t1
                enc_s[name] += t3 - t2
                dec_s[name] += t4 - t3
                decisions += 1
                raw[name] += block.nbytes
                if not _same_block(block, back):
                    errors.append(f"kernel decode of {name} block {block_id} "
                                  f"in {os.path.basename(path)} differs")
                meta.update(part_id=pid, block_id=block_id, column=name,
                            vtype=vtype, row_start=block_id * block_rows,
                            blob=blob, kernel_ms=(t3 - t2) * 1e3)
                chunk_rows.append(meta)
            t5 = time.perf_counter()
            writer.write_block(chunk_rows)
            write_s += time.perf_counter() - t5
        t6 = time.perf_counter()
        writer.commit()
        write_s += time.perf_counter() - t6
    shutil.rmtree(tmp_dir, ignore_errors=True)

    m = {
        "stats.profile_mbps": sum(raw.values()) / profile_s / 1e6,
        "selector.choose_us_per_block": choose_s / decisions * 1e6,
        "manifest.write_s": write_s,
    }
    for n in names:
        m[f"codecs.encode_mbps.{n}"] = raw[n] / enc_s[n] / 1e6
        m[f"codecs.decode_mbps.{n}"] = raw[n] / dec_s[n] / 1e6
    return m, errors


def block_counts(enc_dir: str) -> dict[str, float]:
    """Exact counts from an encoded table's blocks: blocks per codec,
    encoded/raw bytes per column, dictionary resets and global-dict
    blocks."""
    t = pq.read_table(os.path.join(enc_dir, "blocks"),
                      columns=["column", "codec", "raw_bytes", "encoded_bytes",
                               "gdict_reset", "vtype"]).to_pandas()
    m: dict[str, float] = {}
    counts = t["codec"].value_counts()
    for c in CODECS:
        m[f"codecs.blocks.{c}"] = int(counts.get(c, 0))
    by_col = t.groupby("column")[["encoded_bytes", "raw_bytes"]].sum()
    for col, row in by_col.iterrows():
        m[f"codecs.ratio.{col}"] = row["encoded_bytes"] / row["raw_bytes"]
    strs = t[t["vtype"].isin(["str", "binary"])]
    m["gdict.resets"] = int(strs["gdict_reset"].sum())
    m["gdict.global_blocks"] = int((t["codec"] == "dict_global").sum())
    return m
