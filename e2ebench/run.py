"""End-to-end benchmark of the egp_crn_spark engine.

    python3 e2ebench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (BENCHMARK.json says why each was chosen):

* ``crn_region_small``: the reference region chain (standardize, snap,
  7 topology validations, polygonize, meshblock v201, conflation, deltas),
  every stage committed with ``save_table`` and reloaded, on a 60 x 60
  grid world;
* ``image_tiling``: phash georef, cell/tile assignment, point-in-polygon
  join into boundary tiles, phash near-duplicates, a 4-level raster
  pyramid, and one range-partitioned write-back of the tile assignment.

One run: three session set-ups (the first also launches the JVM), inputs
generated from the seed (cached by workload, size and seed, untimed), one
untimed warm-up chain on a toy-sized input of the same workload (the first
chain in a JVM runs about twice as long while the JIT and the code
generator warm up, which a long-lived session pays once),
then chains in a closed loop -- one at a time, each on fresh DataFrames,
caches released after each -- until ``--seconds`` have passed and at
least ``MIN_CHAINS`` chains ran. The median over the run's chains is the
reported wall time. Every chain's results are checked against the truth
planted by the generator. ``--trace 1`` adds one traced chain (spans and
Spark counters per layer) and reports the per-layer metrics instead of
the end-to-end ones. The last line of stdout is the JSON result; the full
record of the run goes to ``.bench_work/results/``.

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# name -> (generator kind, size): the grid side N of a crn world
# (2N(N+1) roads plus stubs) or the row count of an image table
WORKLOADS = {
    "crn_region_small": ("crn", 60),
    "image_tiling": ("images", 500_000),
}
TOY_SIZES = {"crn": 12, "images": 3_000}
# one measured chain keeps a run near 30 s on a quiet host and 60 s on a
# busy one: the whole benchmark (4 + 22 x 2 runs) must end within 3420 s
MIN_CHAINS = 1
SETUPS = 3
VALIDATION_CODES = (101, 102, 201, 202, 301, 302, 303)
ALL_LAYERS = ("standardize", "snap", "validate", "meshblock.polygonize",
              "meshblock.v201", "conflate", "deltas",
              "cells", "spatial_join", "images", "pyramid")
LAYER_UNITS = {"construct_s": "s", "run_s": "s", "rows_out": "rows", "jobs": "count",
              "tasks": "count", "executor_cpu_s": "s", "shuffle_write_mb": "MB",
              "python_worker_s": "s"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def isolate_io() -> None:
    """Point every place Spark, the JVM and Python write scratch files at
    the checkout's .bench_work (get_session caches its package zip under
    ~/.cache, so HOME moves too). Must run before pyspark is imported."""
    for sub in ("home", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["HOME"] = os.path.join(WORK, "home")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(n_cores: int):
    """One set-up: a session from the engine's factory, then a pandas-UDF
    job on every core so the Python-worker pool is up. Returns
    (spark, start_s, warmup_s)."""
    from pyspark.sql import functions as F

    from egp_crn_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("e2ebench", cores=n_cores, driver_memory="3g",
                        extra_conf=spark_conf())
    t1 = time.perf_counter()

    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    spark.range(0, 1000 * n_cores, numPartitions=n_cores) \
        .select(plus_one("id").alias("v")).agg(F.sum("v")).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def ensure_input(kind: str, size: int, seed: int) -> dict:
    path = os.path.join(WORK, "inputs", f"{kind}-{size}-s{seed}")
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", kind,
                        "--size", str(size), "--seed", str(seed), "--out", path],
                       check=True, stdout=sys.stderr)
    with open(os.path.join(path, "truth.json")) as f:
        return {"dir": path, "truth": json.load(f)}


class Runner:
    """Drives one workload's chain and counts its checks."""

    def __init__(self, spark, kind: str, rundir: str):
        import chains

        self.spark = spark
        self.kind = kind
        self.rundir = rundir
        self.chains = chains
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._n = 0

    def once(self, inp: dict, traced: bool = False, count: bool = True):
        """One chain on fresh DataFrames, then its checks. Returns
        (wall_s, ok, chain, per-code chain or None)."""
        from egp_crn_spark.operators.validate import validate_release
        from spans import Chain

        workdir = os.path.join(self.rundir, f"rep{self._n}")
        self._n += 1
        ch = Chain(self.spark, workdir, traced=traced)
        per_code = None
        out: dict = {}
        checks = {"raised": False}
        t0 = time.perf_counter()
        try:
            if self.kind == "crn":
                out = self.chains.crn_chain(ch, inp)
                wall = time.perf_counter() - t0
                checks = self.chains.check_crn(out, inp["truth"])
                if traced:
                    per_code = Chain(self.spark, workdir, traced=True)
                    flags = self.chains.validate_codes(
                        per_code, out["snapped"], VALIDATION_CODES)
                    checks["v303_alone"] = flags[303] == 2 * inp["truth"]["cross_stubs"]
            else:
                out = self.chains.image_chain(ch, inp)
                wall = time.perf_counter() - t0
                checks = self.chains.check_images(out, inp["truth"], inp["dir"], self.spark)
        except Exception:  # a raised stage counts as a failed check
            wall = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        finally:
            self.chains.release(out)
            validate_release()
            self.spark.catalog.clearCache()
            shutil.rmtree(workdir, ignore_errors=True)
        if count:
            self.attempted += len(checks)
            self.failures += [k for k, v in checks.items() if not v]
            self.failed = len(self.failures)
        return wall, all(checks.values()), ch, per_code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="egp_crn_spark end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true",
                    help="run at toy size (smoke self-test only)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "egp_crn_spark", "__init__.py")):
        print(f"e2ebench: no egp_crn_spark package next to {HERE}", file=sys.stderr)
        return 2
    isolate_io()
    sys.path[:0] = [HERE, ROOT]
    jiffies0, load_start, t_run = cpu_jiffies(), load1(), time.perf_counter()

    kind, size = WORKLOADS[args.workload]
    if args.toy:
        size = TOY_SIZES[kind]
    n_cores = cores()

    setups, starts, warmups = [], [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, start_s, warm_s = start_session(n_cores)
        setups.append(start_s + warm_s)
        starts.append(start_s)
        warmups.append(warm_s)

    inp = ensure_input(kind, size, args.seed)
    toy = ensure_input(kind, TOY_SIZES[kind], args.seed)
    rows_in = inp["truth"]["rows"]
    rundir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    runner = Runner(spark, kind, rundir)
    try:
        warm_wall = runner.once(toy, count=False)[0]
        walls, ok_walls = [], []
        t_loop = time.perf_counter()
        while len(walls) < MIN_CHAINS or time.perf_counter() - t_loop < args.seconds:
            wall, ok, _, _ = runner.once(inp)
            walls.append(wall)
            if ok:
                ok_walls.append(wall)
        traced = runner.once(inp, traced=True) if args.trace else None
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    basis = ok_walls or walls
    wall_med = statistics.median(basis)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": n_cores, "rows_in": rows_in,
        "size": size, "warm_up_s": warm_wall,
        "setup_s": setups, "session_start_s": starts, "session_warmup_s": warmups,
        "wall_s": walls, "wall_s_median": wall_med, "wall_s_max": max(basis),
        "attempted": runner.attempted, "failed": runner.failed,
        "failures": runner.failures,
        "failed_frac": runner.failed / max(runner.attempted, 1),
    }
    end_to_end = {
        "wall_s": (wall_med, "s"),
        "rows_per_s": (rows_in / wall_med, "rows/s"),
        "setup_s": (statistics.median(setups), "s"),
        "driver_py_peak_rss_mb": (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
    }
    record["end_to_end"] = {k: v[0] for k, v in end_to_end.items()}
    metrics = end_to_end
    if traced is not None:
        metrics = per_layer(traced, wall_med, starts[0], warmups[0])
        record["per_layer"] = {k: v[0] for k, v in metrics.items()}
        record["spans"] = [vars(s) for s in traced[2].spans]

    stop_jvm(spark)
    jiffies1 = cpu_jiffies()
    d_total = jiffies1[0] - jiffies0[0]
    record["noise"] = {
        "steal_pct": 100.0 * (jiffies1[1] - jiffies0[1]) / d_total if d_total else 0.0,
        "load1_start": load_start, "load1_end": load1(),
        "run_s": time.perf_counter() - t_run,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    rec_path = os.path.join(WORK, "results",
                            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    print(f"# {args.workload}: {len(walls)} chains, wall_s median {wall_med:.3f} "
          f"max {max(basis):.3f}; failed_frac {record['failed_frac']:.4f} "
          f"({runner.failed}/{runner.attempted}); steal {record['noise']['steal_pct']:.2f}% "
          f"load1 {load_start:.2f}->{record['noise']['load1_end']:.2f}")
    if traced is not None:
        pl = record["per_layer"]
        print(f"# traced: wall_s {pl['trace.wall_s']:.3f}, layer sum "
              f"{pl['trace.layer_sum_s']:.3f} ({100 * pl['trace.coverage']:.1f}% of wall), "
              f"tracing overhead {pl['trace.overhead_s']:+.3f} s")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer(traced, untraced_wall: float, start_s: float,
              warmup_s: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric from the traced chain; zero for a layer the
    workload does not call. ``untraced_wall`` is the run's untraced
    median, which the tracing overhead is taken against."""
    from spans import LAYER_FIELDS

    wall, _, ch, per_code = traced
    layers = ch.layer_metrics()
    out: dict[str, tuple[float, str]] = {}
    for layer in ALL_LAYERS:
        got = layers.get(layer, {})
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = (float(got.get(f, 0.0)), LAYER_UNITS[f])
    code_layers = per_code.layer_metrics() if per_code is not None else {}
    for code in VALIDATION_CODES:
        got = code_layers.get(f"validate.v{code}", {})
        out[f"validate.v{code}.run_s"] = (
            float(got.get("construct_s", 0.0) + got.get("run_s", 0.0)), "s")
    t = ch.tables
    out.update({
        "tables.save_s": (t.save_s, "s"), "tables.load_s": (t.load_s, "s"),
        "tables.commits": (float(t.commits), "count"),
        "tables.files_written": (float(t.files_written), "count"),
        "tables.mb_written": (t.mb_written, "MB"),
        "session.start_s": (start_s, "s"), "session.warmup_s": (warmup_s, "s"),
    })
    layer_sum = sum(s.end - s.start for s in ch.top_spans())
    out.update({
        "trace.wall_s": (wall, "s"),
        "trace.layer_sum_s": (layer_sum, "s"),
        "trace.coverage": (layer_sum / wall, "ratio"),
        "trace.overhead_s": (wall - untraced_wall, "s"),
    })
    return out


if __name__ == "__main__":
    sys.exit(main())
