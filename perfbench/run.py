#!/usr/bin/env python3
"""Benchmark of the medallion DAG and the iterative/write query keys.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process runs one workload on a local
Spark session with pinned cores, shuffle partitions and driver memory; one
client drives it in a closed loop (each op starts when the previous one
returned). Protocol of a run:

1. set-up: program import, SparkSession start, fixture build (``setup_s``);
2. one cold pass (``first_op_s``): the cold DAG run, or for a key workload
   the first op of every key, which collects the key's rows;
3. untimed output checks of the cold pass: the DAG's per-model checksum
   summary (at seed 42 against the pinned golden; about one DAG run of
   work, so it is also the DAG's warm-up), every key's rows against its
   DuckDB oracle, followed by one untimed warm-up pass of the keys. Every
   later DAG op is checked for green schema tests and audit counts equal to
   the cold op's;
4. the timed window: whole passes until their op time reaches
   ``--seconds`` (``op_p50_s``: median of per-item medians; ``pass_s``:
   their sum, the cost of one pass, which for the one-item DAG equals
   ``op_p50_s``); ``peak_rss_mb`` is the peak RSS of the driver JVM plus
   that of this Python process;
5. with ``--trace 1`` a second window of the same length with the per-layer
   wrappers of ``tracing.py`` installed; the per-layer metrics come from it.

Every metric is printed with its unit and sample count. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and the
metrics ``BENCHMARK.json`` lists for the mode (``end_to_end`` untraced,
``per_layer`` traced). A traced run prints every other per-layer value of
its workload on the line before. Everything the run writes (Spark local
dirs, warehouse, the write keys' scratch tables, temp files) goes under
``.perfbench_work/<pid>`` in the checkout and is removed at exit.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "4g"
DAG_SCALE = 1.0
# copies of the project's read-only sf0.01 and sf0.001 testdata tables
TESTDATA = HERE / "testdata"
WORKLOADS = ("dag_medallion", "keys_iterative")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=DAG_SCALE, help="DAG fixture scale")
    p.add_argument("--sf", default="0.01", choices=("0.01", "0.001"),
                   help="testdata scale factor for the key workloads")
    return p.parse_args(argv)


def configure(work: Path, cores: int) -> None:
    """Pin the run configuration through the environment get_spark reads,
    and keep every file Spark and Python write inside ``work``."""
    for d in ("local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_SHUFFLE_PARTITIONS=str(SHUFFLE_PARTITIONS),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join([
            # the progress bar redraws stderr from a timer thread even
            # with the UI disabled
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={work / 'local'}",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            # a fixed young generation: peak RSS then follows retained
            # memory instead of G1's adaptive eden sizing, which moved it
            # by ~20% between identical runs
            f"--driver-java-options '-XX:-UsePerfData -Xmn512m -Djava.io.tmpdir={work / 'tmp'}'",
            "pyspark-shell",
        ]),
    )


def redirect_scratch(scratch: Path) -> None:
    """The write keys stage tables under a fixed scratch root; point it at
    this run's own directory. The day-old-directory prune of that root is
    skipped: this run removes what it wrote."""
    from dbt_pro3_spark.queries import core_scan, extensions

    core_scan.SCRATCH = str(scratch)
    extensions._SCRATCH_ROOT = str(scratch)
    extensions._PRUNED = True


def dir_mb(path: Path) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / (1024 * 1024)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    """Runs one workload's protocol and keeps its samples and failures."""

    def __init__(self, workload, seed: int, seconds: float) -> None:
        self.w, self.seconds = workload, seconds
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.check_s = 0.0
        self.errors: list[str] = []

    def order(self) -> list[str]:
        items = list(self.w.items)
        self.rng.shuffle(items)
        return items

    def timed_op(self, run, item: str):
        """Run one op; a raise counts as a failed op and returns (None, None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = run(item)
        except Exception:  # noqa: BLE001  one failing op must not end the run
            self.failed += 1
            self.errors.append(f"{item}: {traceback.format_exc(limit=3)}")
            return None, None
        return time.perf_counter() - t0, out

    def verify(self, item: str, out, full: bool) -> None:
        """Untimed output check of one op; a mismatch fails that op."""
        try:
            errs = self.w.check(item, out, full)
        except Exception:  # noqa: BLE001
            errs = [traceback.format_exc(limit=3)]
        if errs:
            self.failed += 1
            self.errors.append(f"{item}: {errs[:3]}")

    def cold_pass(self) -> float:
        """The first op of every item, fully checked; returns their sum."""
        total = 0.0
        for item in self.order():
            secs, out = self.timed_op(self.w.cold_run, item)
            if secs is not None:
                total += secs
                t0 = time.perf_counter()
                self.verify(item, out, full=True)
                self.check_s += time.perf_counter() - t0
        return total

    def warm_passes(self) -> None:
        """Untimed passes of the later op, ``warm_passes`` per workload."""
        for _ in range(self.w.warm_passes):
            for item in self.order():
                secs, out = self.timed_op(self.w.run, item)
                if secs is not None:
                    self.verify(item, out, full=False)

    def window(self, on_op=None) -> dict[str, list[float]]:
        """Whole passes until the summed op time reaches ``seconds``."""
        samples: dict[str, list[float]] = {i: [] for i in self.w.items}
        spent = 0.0
        while spent == 0.0 or spent < self.seconds:
            ran = 0.0
            for item in self.order():
                if on_op:
                    on_op("start", item)
                secs, out = self.timed_op(self.w.run, item)
                if on_op:
                    on_op("end", item, secs)
                if secs is None:
                    continue
                samples[item].append(secs)
                ran += secs
                self.verify(item, out, full=False)
            if ran == 0.0:
                break  # every op failed; failures are already counted
            spent += ran
        return samples


def summarize(samples: dict[str, list[float]]) -> dict[str, float]:
    per_item = [statistics.median(v) for v in samples.values() if v]
    if not per_item:
        raise RuntimeError("no op succeeded in the timed window")
    every = [s for v in samples.values() for s in v]
    return {
        "op_p50_s": statistics.median(per_item),
        "pass_s": sum(per_item),
        "op_p90_s": (
            statistics.quantiles(every, n=10, method="inclusive")[8]
            if len(every) > 1 else every[0]
        ),
        "n_ops": len(every),
        "n_items": len(per_item),
    }


def traced_window(runner: Runner, spark, is_dag: bool) -> tuple[dict, dict]:
    """The timed window again with the per-layer wrappers installed;
    returns (per-layer means per op, the window's samples)."""
    from tracing import LAYER_UNITS, LayerTracer, SparkCounters

    tracer, counters = LayerTracer(), SparkCounters(spark)
    per_op: list[dict[str, float]] = []
    splits: dict[str, list[tuple[float, float]]] = {}

    def on_op(phase: str, item: str, secs: float | None = None) -> None:
        if phase == "start":
            counters.mark()
            tracer.take()
            return
        row = {**tracer.take(), **counters.since_mark()}
        if secs is None:
            return
        row["wall_s"] = secs
        if not is_dag:
            build, execute = runner.w.last_split
            splits.setdefault(item, []).append((build, execute))
            row["queries.build_s"], row["queries.exec_s"] = build, execute
        per_op.append(row)

    tracer.install()
    try:
        samples = runner.window(on_op)
    finally:
        tracer.uninstall()
    names = sorted({k for row in per_op for k in row} | set(LAYER_UNITS))
    layer = {k: statistics.fmean(row.get(k, 0.0) for row in per_op) for k in names}
    wall = layer.pop("wall_s")
    layer["spark.parallelism"] = layer["spark.executor_run_s"] / wall
    layer["registry.actions_per_model"] = (
        layer.get("registry.audit_actions", 0.0) + layer.get("registry.test_actions", 0.0)
    ) / 12
    for item, rows in splits.items():
        layer[f"key.{item}.build_s"] = statistics.median(b for b, _ in rows)
        layer[f"key.{item}.exec_s"] = statistics.median(e for _, e in rows)
    return layer, samples


def make_workload(args):
    from workloads import ITERATIVE_KEYS, DagWorkload, KeysWorkload

    if args.workload == "dag_medallion":
        return DagWorkload(args.seed, args.scale)
    return KeysWorkload("keys_iterative", ITERATIVE_KEYS, str(TESTDATA / f"sf{args.sf}"))


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001  subprocess.TimeoutExpired
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def benchmark(args, work: Path) -> dict:
    nproc = len(os.sched_getaffinity(0))
    cores = min(CORES, nproc)
    configure(work, cores)
    sys.path[:0] = [str(ROOT), str(HERE)]

    from dbt_pro3_spark.session import get_spark

    timings: dict[str, float] = {}
    w = make_workload(args)
    started = []

    def start_session():
        t = time.perf_counter()
        spark = get_spark("perfbench")
        started.append(spark)
        spark.sparkContext.setLogLevel("ERROR")
        timings["session.get_spark_s"] = time.perf_counter() - t
        return spark

    try:
        spark = w.setup(start_session, timings)
        redirect_scratch(work / "scratch")
        setup_s = time.perf_counter() - T_START
        runner = Runner(w, args.seed, args.seconds)
        first_op_s = runner.cold_pass()
        runner.warm_passes()
        stats = summarize(runner.window())
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        e2e = {
            "setup_s": setup_s,
            "first_op_s": first_op_s,
            "op_p50_s": stats["op_p50_s"],
            "pass_s": stats["pass_s"],
        }
        layer: dict[str, float] = {}
        if args.trace:
            layer, traced = traced_window(runner, spark, w.name == "dag_medallion")
            layer.update(timings)
            layer["op_p90_s"] = stats["op_p90_s"]
            layer["trace.overhead_ratio"] = summarize(traced)["op_p50_s"] / stats["op_p50_s"]
            layer["scratch.bytes_written_mb"] = dir_mb(work / "scratch")
        rss = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        e2e["peak_rss_mb"] = rss
        info = {
            "workload": w.name, "seed": args.seed, "seconds": args.seconds,
            "cores": cores, "nproc": nproc, "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": DRIVER_MEMORY, "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "data": f"fixtures scale {args.scale}" if w.name == "dag_medallion" else f"sf{args.sf}",
            "trace": args.trace, "check_s": round(runner.check_s, 3),
        }
    finally:
        if hasattr(w, "close"):
            w.close()
        if started:
            shutdown(started[0])
    return {
        "info": info, "e2e": e2e, "layer": layer, "stats": stats,
        "attempted": runner.attempted, "failed": runner.failed, "errors": runner.errors,
    }


def report(res: dict, spec: dict, trace: int) -> dict:
    info, stats, e2e = res["info"], res["stats"], res["e2e"]
    print("perfbench " + " ".join(f"{k}={v}" for k, v in info.items()))
    samples = {
        "setup_s": 1, "first_op_s": 1, "peak_rss_mb": 1,
        "op_p50_s": stats["n_ops"], "pass_s": stats["n_ops"],
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in e2e.items():
        print(f"  {name:<16} {value:12.4f} {units.get(name, ''):<6} n={samples[name]}")
    ratio = res["failed"] / res["attempted"]
    print(f"  {'fail_ratio':<16} {ratio:12.4f} ratio  n={res['attempted']} "
          f"({res['failed']} failed)")
    for err in res["errors"][:10]:
        print(f"  FAILED {err}", file=sys.stderr)
    if trace:
        from tracing import LAYER_UNITS

        layer = res["layer"]
        print(f"  op_p90_s over n={stats['n_ops']} ops of {stats['n_items']} items")
        print("perfbench per-layer " + json.dumps(
            {k: {"value": v, "unit": LAYER_UNITS.get(k, "s")} for k, v in sorted(layer.items())}
        ))
        chosen, values = spec["per_layer"], layer
    else:
        chosen, values = spec["end_to_end"], e2e
    missing = [m["name"] for m in chosen if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work" / str(os.getpid())
    try:
        res = benchmark(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(report(res, spec, args.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
