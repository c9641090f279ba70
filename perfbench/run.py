"""arcade-spark benchmark: one closed-loop client against local[nproc].

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload multiblock_zipf --seed 1 --seconds 10 --trace 0

One run starts a session, generates the workload's inputs from the
seed, encodes them (set-up), then issues the operation schedule of
``ops.SCHEDULE`` with seeded parameters, one operation at a time, until
``--seconds`` have passed and at least one whole pass has run. Every
result is checked against pyarrow or DuckDB over the same source
parquet.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, from spans around
each call into the program, Spark job accounting per operation phase,
the kernel-only codec probe, an identity-mapInArrow floor probe and the
local[1] encode twin. The line before it is an ``info`` object with the
run's provenance. Exit code 0 means the run finished; ``correct`` says
whether every result and gate held.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import numpy as np  # noqa: E402

import inputs  # noqa: E402
import ops as opsmod  # noqa: E402
import sparkenv  # noqa: E402
from tracing import Tracer  # noqa: E402

FLOOR_REPS = 3
PROBE_REPS = 5


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of every ``kind`` ("end_to_end" or "per_layer")
    metric listed in BENCHMARK.json, the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def floor_df(spark, n_tasks: int):
    """An identity mapInArrow over ``n_tasks`` one-row tasks, built the
    way the ARCADE reads build theirs: parallelize the part ids one
    slice a task, make a ``part_id int`` DataFrame of them and map it."""
    rdd = spark.sparkContext.parallelize([(i,) for i in range(n_tasks)], n_tasks)
    return spark.createDataFrame(rdd, "part_id int").mapInArrow(
        lambda batches: batches, "part_id int")


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it."""
    s = sorted(latencies)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def median_timed(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.layout = inputs.WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.errors: list[str] = []
        self.samples: dict[str, list[dict]] = {}
        self.setup_parts: dict[str, float] = {}
        self.order: list[tuple[str, float]] = []
        self.attempted = self.failed = 0
        self.bench_s = {"catalogue": 0.0, "oracles": 0.0, "check": 0.0}
        self.spark = None

    # ---------------------------------------------------------- set-up

    def _step(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            out = fn()
        self.setup_parts[name] = time.perf_counter() - t0
        return out

    def setup(self) -> None:
        from arcade_spark.corpus import write_corpus_files
        from arcade_spark.encode import encode_files_job, encode_job

        L, seed, w = self.layout, self.args.seed, self.work
        self.tracer = Tracer(None, bool(self.args.trace), T_START)
        self.spark = self._step("session", lambda: sparkenv.start(
            f"perfbench-{self.args.workload}", self.cores))
        self.tracer.spark = self.spark
        self.corpus_dir = self._step("corpus", lambda: write_corpus_files(
            os.path.join(w, "corpus"), L.corpus_rows, L.corpus_files, seed=seed))
        keyed = self._step("keyed", lambda: inputs.write_keyed(
            os.path.join(w, "keyed"), L, seed))
        self.corpus_enc = os.path.join(w, "corpus_enc")
        self.encode0 = self._step("encode_files", lambda: encode_files_job(
            self.spark, self.corpus_dir, self.corpus_enc, block_rows=L.block_rows,
            resume=False))
        # The first shuffle-mode encode and the first resume of a session
        # run 1.5-2x slower than later ones; warming them here keeps that
        # out of the measured ones.
        warm, corpus_df = os.path.join(w, "warm_shuffle"), self.spark.read.parquet(
            self.corpus_dir)
        for step in ("warm_encode_shuffle", "warm_resume_noop"):
            self._step(step, lambda: encode_job(
                self.spark, corpus_df, warm, num_parts=L.corpus_files,
                block_rows=L.block_rows, resume=step == "warm_resume_noop"))
        shutil.rmtree(warm)
        # the keyed table goes through shuffle mode, the way an entry
        # query's _encoded_dir encodes its tables
        keyed_enc = os.path.join(w, "keyed_enc")
        self._step("encode_keyed", lambda: encode_job(
            self.spark, self.spark.read.parquet(keyed), keyed_enc,
            num_parts=self.cores, order_col="row_id"))
        self.setup_s = time.perf_counter() - T_START
        t0 = time.perf_counter()
        self.catalogue = opsmod.Catalogue(
            self.spark, w, self.corpus_dir, self.corpus_enc, L.corpus_files,
            L.block_rows, keyed, keyed_enc)
        self.bench_s["catalogue"] = time.perf_counter() - t0

    # ---------------------------------------------------------- the loop

    def run_op(self, op: opsmod.Op, k: int) -> None:
        from arcade_spark.readops import release_key_caches

        rec: dict = {}
        tr = self.tracer
        try:
            with tr.span(op.name, trace=k):
                t0 = t1 = time.perf_counter()
                if op.kind == "read":
                    with tr.span("plan", k, op.name, "plan"):
                        df = op.call()
                    t1 = time.perf_counter()
                    with tr.span("action", k, op.name, "action"):
                        result = df.toArrow()
                else:
                    with tr.span("call", k, op.name, "call"):
                        result = op.call()
                t2 = time.perf_counter()
            rec.update(plan=t1 - t0, action=t2 - t1, wall=t2 - t0)
            err = op.check(result)
            self.bench_s["check"] += time.perf_counter() - t2
            if op.kind == "encode":
                rec["result"] = result
            if op.kind == "read":
                release_key_caches()
        except Exception:  # one failed operation must not end the run
            err = traceback.format_exc(limit=3)
        finally:
            if op.out:
                shutil.rmtree(op.out, ignore_errors=True)
        rec["error"] = err
        self.attempted += 1
        if err:
            self.failed += 1
            self.errors.append(f"{op.name}: {err}")
            print(f"FAILED {op.name}: {err}", file=sys.stderr)
        self.samples.setdefault(op.name, []).append(rec)
        self.order.append((op.name, round(rec.get("wall", -1.0), 3)))

    def measure(self) -> None:
        rng = np.random.default_rng([self.args.seed, 1])
        t0 = time.perf_counter()
        k = 0
        self.passes = 0
        while self.passes == 0 or time.perf_counter() - t0 < self.args.seconds:
            t1 = time.perf_counter()
            ops = [self.catalogue.build(n, rng) for n in opsmod.SCHEDULE]
            self.bench_s["oracles"] += time.perf_counter() - t1
            for op in ops:
                self.run_op(op, k)
                k += 1
            self.passes += 1

    def gates(self) -> None:
        err = opsmod.self_test()
        if err:
            self.errors.append(f"self-test: {err}")
        if not self.catalogue.shuffle_checked:
            self.errors.append("shuffle-mode decode gate never ran")

    # ---------------------------------------------------------- metrics

    def _walls(self, name: str, key: str = "wall") -> list[float]:
        """Timings of every call that returned, right or wrong (a wrong
        result is counted in ``failed``, not dropped)."""
        walls = [r[key] for r in self.samples.get(name, []) if key in r]
        if not walls:
            raise RuntimeError(f"every {name} call raised")
        return walls

    def end_to_end(self) -> dict[str, float]:
        raw = self.encode0["raw_bytes"]
        lat = [r["wall"] for recs in self.samples.values() for r in recs if "wall" in r]
        self.tail_value, self.tail_pct = tail(lat)
        self.n_latencies = len(lat)
        self.rss_kb = sparkenv.peak_rss_kb([os.getpid()] + sparkenv.descendants(os.getpid()))
        return {
            "setup_s": self.setup_s,
            "encode_gbps": raw / statistics.median(self._walls("encode_files")) / 1e9,
            "encode_shuffle_gbps": raw / statistics.median(self._walls("encode_shuffle")) / 1e9,
            "compression_ratio": self.encode0["ratio"],
            "scan_gbps": raw / statistics.median(self._walls("scan_full")) / 1e9,
            "query_p50_s": statistics.median(lat),
            "query_tail_s": self.tail_value,
            "ops_per_s": len(lat) / sum(lat),
            "peak_rss_mb": sum(map(sum, self.rss_kb.values())) / 1024.0,
        }

    def per_layer(self, e2e: dict[str, float]) -> dict[str, float]:
        from arcade_spark.manifest import validated_completed_parts
        from arcade_spark.partread import load_manifest

        import kernels

        tr = self.tracer
        acc = tr.spark_accounting()
        med = statistics.median
        m: dict[str, float] = {}
        for op in opsmod.READ_OPS:
            plans = acc["jobs"].get((op, "plan"), [0])
            actions = acc["jobs"].get((op, "action"), [0])
            m[f"readops.plan_s.{op}"] = med(self._walls(op, "plan"))
            m[f"readops.action_s.{op}"] = med(self._walls(op, "action"))
            m[f"spark.jobs.{op}"] = med([p + a for p, a in zip(plans, actions)])
            m[f"spark.prefix_jobs.{op}"] = med(plans)
        for op in opsmod.ENCODE_OPS:
            m[f"spark.jobs.{op}"] = med(acc["jobs"].get((op, "call"), [0]))
        t = acc["totals"]
        m.update({"spark.stages": t["stages"], "spark.tasks": t["tasks"],
                  "spark.failed_tasks": t["failed_tasks"],
                  "spark.shuffle_mb": t["shuffle_bytes"] / 1e6,
                  "spark.result_mb": t["result_bytes"] / 1e6})

        files = [r for r in self.samples["encode_files"] if "result" in r]
        m["encode.wall_s"] = med([r["wall"] for r in files])
        m["encode.kernel_s"] = med([r["result"]["kernel_seconds"] for r in files])
        m["encode.outside_kernel_share"] = med(
            [1 - r["result"]["kernel_seconds"] / (self.cores * r["wall"]) for r in files])
        m["encode.resume_noop_s"] = med(self._walls("resume_noop"))

        L = self.layout
        with tr.span("probe.manifest"):
            sources = dict(enumerate(self.catalogue.files))
            m["manifest.resume_check_s"] = median_timed(lambda: validated_completed_parts(
                self.corpus_enc, mode="files", num_parts=len(sources), sources=sources),
                PROBE_REPS)
            m["manifest.load_s"] = median_timed(
                lambda: load_manifest(self.corpus_enc), PROBE_REPS)
        with tr.span("probe.kernels"):
            columns, _ = load_manifest(self.corpus_enc)
            km, kerr = kernels.probe(self.corpus_dir, L.block_rows, columns,
                                     os.path.join(self.work, "probe"))
        self.errors.extend(kerr)
        m.update(km)
        m.update(kernels.block_counts(self.corpus_enc))

        # the floor at the task counts the reads run: the full scan's
        # (one task per part) and one task (a random access inside one part)
        self.action_tasks = {op: int(med(acc["tasks"].get((op, "action"), [0])))
                             for op in opsmod.READ_OPS}
        self.floor_tasks = max(1, self.action_tasks["scan_full"])
        with tr.span("probe.mapinarrow_floor"):
            for name, n_tasks in (("spark.mapinarrow_floor_s", self.floor_tasks),
                                  ("spark.mapinarrow_floor_1task_s", 1)):
                df = floor_df(self.spark, n_tasks)
                m[name] = median_timed(df.toArrow, FLOOR_REPS)

        m["trace.bookkeeping_s"] = tr.bookkeeping_s
        m["trace.ops_per_s"] = e2e["ops_per_s"]
        m["trace.query_p50_s"] = e2e["query_p50_s"]
        return m

    def twin(self) -> float:
        """local[1] files-mode encode of the same corpus in a second
        process; returns the scaling efficiency against this session."""
        with self.tracer.span("probe.twin"):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "twin.py"), self.corpus_dir,
                 str(self.layout.block_rows), os.path.join(self.work, "twin")],
                capture_output=True, text=True, timeout=60, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        thr1 = res["raw_bytes"] / res["wall_s"]
        thr4 = self.encode0["raw_bytes"] / statistics.median(self._walls("encode_files"))
        return thr4 / (self.cores * thr1)

    def info(self) -> dict:
        import duckdb
        import pyarrow
        import pyspark

        L = self.layout
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "nproc": self.cores, "master": f"local[{self.cores}]",
            "clients": 1, "loop": "closed", "passes": self.passes,
            "inputs": {"corpus_rows": L.corpus_rows, "corpus_files": L.corpus_files,
                       "block_rows": L.block_rows,
                       "corpus_raw_bytes": self.encode0["raw_bytes"],
                       "keyed_rows": inputs.N_KEYED, "hot_keys": L.hot_keys},
            "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                         "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__},
            "flush_policy": ("encode output and spill go to the checkout's work "
                             "directory with no fsync; reads are served from the page "
                             "cache, so latencies are the page cache's, not a device's"),
            "query_tail": {"percentile": round(self.tail_pct, 1),
                           "samples": self.n_latencies,
                           "beyond": min(10, self.n_latencies - 1)},
            "peak_rss_mb_by_process": {
                name: [round(kb / 1024.0) for kb in sorted(kbs, reverse=True)]
                for name, kbs in self.rss_kb.items()},
            "setup_parts_s": {k: round(v, 3) for k, v in self.setup_parts.items()},
            "op_walls_s": self.order,
            "benchmark_own_s": {k: round(v, 3) for k, v in self.bench_s.items()},
            "errors": self.errors,
        }


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(inputs.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "arcade_spark")):
        print(f"arcade_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    sparkenv.prepare(work)
    run = Run(args, work)
    try:
        run.setup()
        run.measure()
        run.gates()
        e2e = run.end_to_end()
        if args.trace:
            metrics = run.per_layer(e2e)
            sparkenv.stop(run.spark)
            run.spark = None
            metrics["encode.scaling_eff"] = run.twin()
            units = metric_units("per_layer")
            run.tracer.write(os.path.join(
                ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics, units = e2e, metric_units("end_to_end")
        info = run.info()
    finally:
        if run.spark is not None:
            sparkenv.stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    missing, unlisted = set(units) - set(metrics), set(metrics) - set(units)
    if missing or unlisted:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}; "
                           f"measured but not in BENCHMARK.json: {sorted(unlisted)}")
    if args.trace:
        info["floor_probe_tasks"] = run.floor_tasks
        info["read_action_tasks"] = run.action_tasks
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
