"""Per-layer tracing for the traced benchmark run.

Two sources, both read from the benchmark's own files:

- ``LayerTracer`` wraps the public functions each layer exposes (the model
  functions of ``pipeline.bronze/silver/gold``, ``ModelRegistry.run`` and
  its wave pool, ``sources.readers.load`` at every place the name is bound,
  ``plans.incremental.write_incremental``, ``plans.snapshot.apply_snapshot``,
  ``DataFrame.localCheckpoint``/``count``/``collect``) and sums call counts
  and wall time per op. Wrappers are installed only for the traced window and
  removed afterwards, so untraced ops run the program's own functions.
- ``SparkCounters`` reads the stages and jobs an op ran from Spark's live
  status store (always on, also with the UI disabled), so counting them
  adds no listener to the timed path.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

MB = 1024 * 1024

# Every per-layer metric name the traced run can emit, with its unit.
# ``registry.model.<model>_s`` and ``key.<key>.{build,exec}_s`` are added
# per model and per key on top of these.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "queries.import_s": "s",
    "fixtures.raw_tables_s": "s",
    "pipeline.bronze.build_s": "s",
    "pipeline.silver.build_s": "s",
    "pipeline.gold.build_s": "s",
    "registry.wave.bronze_s": "s",
    "registry.wave.silver_s": "s",
    "registry.wave.gold_s": "s",
    "registry.audit_s": "s",
    "registry.audit_actions": "count",
    "registry.tests_s": "s",
    "registry.test_actions": "count",
    "registry.actions_per_model": "ratio",
    "readers.load_calls": "count",
    "readers.load_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "pins.local_checkpoint_calls": "count",
    "incremental.write_calls": "count",
    "incremental.write_s": "s",
    "snapshot.apply_s": "s",
    "scratch.bytes_written_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.parallelism": "ratio",
    "op_p90_s": "s",
    "trace.overhead_ratio": "ratio",
}

LAYERS = ("bronze", "silver", "gold")


class LayerTracer:
    """Sums calls and seconds per layer name while installed."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.local = threading.local()
        self.sums: dict[str, float] = defaultdict(float)
        self.model_start: dict[str, float] = {}
        self.model_end: dict[str, float] = {}
        self.waves: list[float] = []
        self._last_wave_end = time.perf_counter()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ plumbing
    def add(self, name: str, value: float) -> None:
        with self.lock:
            self.sums[name] += value

    def _patch(self, owner: object, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def take(self) -> dict[str, float]:
        """Return and reset what was summed since the last take()."""
        with self.lock:
            out = dict(self.sums)
            for m, start in self.model_start.items():
                out[f"registry.model.{m}_s"] = self.model_end.get(m, start) - start
            for layer, secs in zip(LAYERS, self.waves):
                out[f"registry.wave.{layer}_s"] = secs
            self.sums.clear()
            self.model_start.clear()
            self.model_end.clear()
            self.waves.clear()
        return out

    def _timed(self, count_name: str | None, secs_name: str | None):
        def wrapper(fn):
            def inner(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    dt = time.perf_counter() - t0
                    if count_name:
                        self.add(count_name, 1)
                    if secs_name:
                        self.add(secs_name, dt)

            return inner

        return wrapper

    # -------------------------------------------------------------- layers
    def install(self) -> None:
        # the classic (non-Connect) DataFrame overrides the actions
        from pyspark.sql.classic.dataframe import DataFrame

        from dbt_pro3_spark.pipeline import bronze, gold, silver
        from dbt_pro3_spark.plans import incremental, registry, snapshot
        from dbt_pro3_spark.sources import readers

        # readers.load: the query modules bind the name at import, so the
        # wrapper goes wherever that binding lives.
        load = readers.load
        for name, mod in list(sys.modules.items()):
            if name.startswith("dbt_pro3_spark") and getattr(mod, "load", None) is load:
                self._patch(mod, "load", self._timed("readers.load_calls", "readers.load_s"))
        self._patch(
            incremental, "write_incremental",
            self._timed("incremental.write_calls", "incremental.write_s"),
        )
        self._patch(snapshot, "apply_snapshot", self._timed(None, "snapshot.apply_s"))
        self._patch(DataFrame, "localCheckpoint", self._timed("pins.local_checkpoint_calls", None))

        # Model functions: registry_build.py looks them up as bz./sv./gd.
        # attributes at call time, and the runner calls them from its pool
        # threads, so the thread records which model it is building.
        for layer, mod in zip(LAYERS, (bronze, silver, gold)):
            for attr, fn in list(vars(mod).items()):
                model_name = attr.endswith(f"_{layer}") or attr.startswith(f"{layer}_")
                if model_name and getattr(fn, "__module__", None) == mod.__name__:
                    self._patch(mod, attr, self._model_fn(layer, attr))

        for action in ("count", "collect"):
            self._patch(DataFrame, action, self._action)
        self._patch(registry.ModelRegistry, "run", self._registry_run)
        self._patch(registry, "ThreadPoolExecutor", self._wave_pool)

    def _model_fn(self, layer: str, model: str):
        def wrapper(fn):
            def inner(*args, **kwargs):
                t0 = time.perf_counter()
                with self.lock:
                    self.model_start[model] = t0
                self.local.model = model
                self.local.in_fn = True
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.local.in_fn = False
                    self.add(f"pipeline.{layer}.build_s", time.perf_counter() - t0)

            return inner

        return wrapper

    def _action(self, fn):
        tracer = self

        def inner(df, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(df, *args, **kwargs)
            finally:
                t1 = time.perf_counter()
                model = getattr(tracer.local, "model", None)
                if model and not getattr(tracer.local, "in_fn", False):
                    # a pool thread after its model fn returned: post-hook
                    tracer.add("registry.audit_actions", 1)
                    tracer.add("registry.audit_s", t1 - t0)
                    with tracer.lock:
                        tracer.model_end[model] = t1
                elif getattr(tracer.local, "in_run", False):
                    # the runner's own thread runs the schema tests
                    tracer.add("registry.test_actions", 1)

        return inner

    def _registry_run(self, fn):
        tracer = self

        def inner(reg, *args, **kwargs):
            tracer.local.in_run = True
            try:
                out = fn(reg, *args, **kwargs)
            finally:
                tracer.local.in_run = False
            # everything after the last wave closed is the schema tests
            tracer.add("registry.tests_s", time.perf_counter() - tracer._last_wave_end)
            return out

        return inner

    def _wave_pool(self, _orig):
        tracer = self

        class WavePool(ThreadPoolExecutor):
            def __enter__(self):
                self._t0 = time.perf_counter()
                return super().__enter__()

            def __exit__(self, *exc):
                out = super().__exit__(*exc)
                tracer._last_wave_end = time.perf_counter()
                with tracer.lock:
                    tracer.waves.append(tracer._last_wave_end - self._t0)
                return out

        return WavePool


class SparkCounters:
    """Jobs, stages, tasks, shuffle, spill and executor time of the stages
    Spark started since the last ``mark()``, from the live status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.mark()

    def _stages(self):
        return self.store.stageList(None, False, False, self.no_quantiles, None)

    def mark(self) -> None:
        stages, jobs = self._stages(), self.store.jobsList(None)
        self.stage_mark = stages.apply(0).stageId() if stages.size() else -1
        self.job_mark = jobs.apply(0).jobId() if jobs.size() else -1

    def since_mark(self) -> dict[str, float]:
        """Totals over the stages and jobs newer than the mark. The store
        lists both newest first, so the scan stops at the mark."""
        out = dict.fromkeys(
            ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_mb",
             "spark.shuffle_write_mb", "spark.spill_mb", "spark.executor_run_s",
             "spark.gc_s"), 0.0,
        )
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.stage_mark:
                break
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / MB
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spark.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            out["spark.executor_run_s"] += s.executorRunTime() / 1000.0
            out["spark.gc_s"] += s.jvmGcTime() / 1000.0
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self.job_mark:
                break
            out["spark.jobs"] += 1
        self.mark()
        return out
