"""The local[1] twin of the files-mode encode, run as its own process
so its session has one core from the JVM's start.

Usage: python3 perfbench/twin.py CORPUS_DIR BLOCK_ROWS WORK_DIR

Prints one JSON line: the wall seconds of one fresh files-mode encode
after one untimed warm-up encode, and the raw bytes encoded.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    corpus_dir, block_rows, work = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    import sparkenv

    sparkenv.prepare(work)
    from arcade_spark.encode import encode_files_job

    spark = sparkenv.start("perfbench-twin", 1)
    try:
        for run in ("warm", "timed"):
            out = os.path.join(work, f"twin-{run}")
            t0 = time.perf_counter()
            m = encode_files_job(spark, corpus_dir, out, block_rows=block_rows, resume=False)
            wall = time.perf_counter() - t0
            shutil.rmtree(out, ignore_errors=True)
    finally:
        sparkenv.stop(spark)
    print(json.dumps({"wall_s": wall, "raw_bytes": m["raw_bytes"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
