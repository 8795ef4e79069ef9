#!/usr/bin/env python3
"""Layer-attributed benchmark of the openetlagent_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  One run, in one process on
``local[<cores>]``:

1. set-up: process start until the Spark session is ready (``setup_s``);
2. oracle digests are computed on first use and cached, untimed;
3. a cold pass over the workload's items (``first_pass_s``).  It also
   checks every output once the item's timing has stopped: a query's
   collected result against its DuckDB oracle, a flow's
   ``validate_schema`` verdict and its written files read back against
   the result they were written from;
4. steady passes for ``--seconds``.  Passes that start in the first half
   warm up; the later ones are measured (``pass_s``, ``query_s_p50``);
5. clean-up: flow outputs and engine scratch directories are deleted and
   the temp directory must be back to its starting size.

``--seed`` shuffles the item order within every pass.  A steady item is
forced through its sink: queries through the ``noop`` writer, flows
through ``save_data``.  Between items the session's caches and local
checkpoints are freed, outside the item's timing.  A failed item or
check is counted in ``failed`` and never timed.  With ``--trace 1`` the
measured passes alternate traced and untraced (see ``tracing.py``), and
the run prints the per-layer metrics instead; the untraced passes give
the tracing overhead.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]

from tracing import CLK_TCK, CounterError, ProcCounters, Tracer, duration  # noqa: E402
from workloads import DATASET, WORKLOADS, WORK, dataset_dir, digest, flow_file, oracle_digests, write_flow_config  # noqa: E402

MIN_MEASURED_PASSES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


@contextlib.contextmanager
def run_env(cores: int):
    """A per-run directory holding every temp location, removed at exit.
    Also makes the engine importable in the Python workers, whatever the
    caller's working directory and environment."""
    os.makedirs(WORK, exist_ok=True)
    reap_stale_run_dirs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "jvmtmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={dirs['jvmtmp']}\" "
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']} pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        yield dirs
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def reap_stale_run_dirs() -> None:
    for d in glob.glob(os.path.join(WORK, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, OSError):
            pass


class Bench:
    """Runs one workload's items and counts attempts and failures."""

    def __init__(self, spark, workload, queries: dict, data_dir: str, tmp: str, tracer: Tracer):
        self.spark = spark
        self.wl = workload
        self.queries = queries
        self.data_dir = data_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.out_root = os.path.join(tmp, "flow_outputs")
        if workload.flows:
            self.config_path = os.path.join(tmp, "curation_config.yaml")
            write_flow_config(data_dir, self.out_root, self.config_path)

    def fail(self, item: str, why: str) -> None:
        self.failed += 1
        log(f"FAIL {self.wl.name}/{item}: {why}")

    def free(self) -> None:
        from openetlagent_spark.session import free_local_checkpoints

        with self.tracer.span("session.free"):
            self.spark.catalog.clearCache()
            free_local_checkpoints(self.spark)

    # -- one item ------------------------------------------------------

    def _query(self, name: str, pass_no: int, collect: bool):
        tr = self.tracer
        with tr.span("query", item=name, pass_no=pass_no):
            with tr.span("plans.build"):
                df = self.queries[name](self.spark, self.data_dir)
            with tr.span("exec.action"):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
        return None

    def _flow(self, out_key: str, pass_no: int):
        from openetlagent_spark.model import load_pipeline_config, load_pipeline_flow
        from openetlagent_spark.runner import apply_operations
        from openetlagent_spark.sources import save_data, scan_data
        from openetlagent_spark.validate import validate_schema

        tr = self.tracer
        with tr.span("flow", item=out_key, pass_no=pass_no):
            with tr.span("plans.build"):
                with tr.span("model.load"):
                    config = load_pipeline_config(self.config_path)
                    flow = load_pipeline_flow(flow_file(out_key))
                out_def = config.outputs[out_key]
                with tr.span("sources.scan"):
                    df = scan_data(self.spark, config.inputs[flow.source])
                with tr.span("runner.apply"):
                    result = apply_operations(df, flow.operations, self.spark, config.inputs)
                with tr.span("validate.validate"):
                    ok, feedback = validate_schema(result, out_def)
            if not ok:
                raise RuntimeError(f"validate_schema failed: {feedback}")
            with tr.span("exec.action"):
                with tr.span("sources.save") as save_span:
                    save_data(result, out_def, single_file=True)
        if tr.enabled:
            save_span["save_bytes"] = dir_bytes(out_def.path)
            save_span["save_files"] = sum(
                1 for _, _, fs in os.walk(out_def.path) for f in fs if f.startswith("part-")
            )
        return result, out_def

    def run_item(self, item: str, pass_no: int, expected: dict[str, str] | None) -> tuple[float | None, float]:
        """Run one item; returns (item wall seconds or None if it failed,
        seconds spent freeing caches after it).

        With ``expected`` (the cold pass) queries are collected instead
        of written to ``noop``, and after the timing stops each output
        is checked: a query against its oracle digest, a flow by reading
        its written output back."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.wl.flows:
                out = self._flow(item, pass_no)
            else:
                out = self._query(item, pass_no, collect=expected is not None)
            wall = time.perf_counter() - t0
            if expected is not None:
                self._check(item, out, expected)
        except Exception as exc:  # counted, never timed
            self.fail(item, f"{type(exc).__name__}: {str(exc)[:300]}")
            wall = None
        t1 = time.perf_counter()
        self.free()
        free_s = time.perf_counter() - t1
        self.tracer.collect()
        return wall, free_s

    def run_pass(self, order: list[str], pass_no: int, expected: dict[str, str] | None = None):
        """Returns (pass seconds, item walls); pass seconds sum the items
        and the frees between them, not the checks."""
        walls, total = [], 0.0
        for item in order:
            wall, free_s = self.run_item(item, pass_no, expected)
            total += free_s
            if wall is not None:
                walls.append(wall)
                total += wall
        return total, walls

    # -- correctness ---------------------------------------------------

    def _check(self, item: str, out, expected: dict[str, str]) -> None:
        if not self.wl.flows:
            if item in expected and digest(out) != expected[item]:
                raise AssertionError(f"result {digest(out)} != oracle {expected[item]}")
            return
        from pyspark.sql import functions as F

        from openetlagent_spark.sources import scan_data
        from openetlagent_spark.types import schema_to_struct

        result, out_def = out
        struct = schema_to_struct(out_def.file_schema.logical_types())
        written = result.select(*[F.col(f.name).cast(f.dataType) for f in struct.fields if f.name in result.columns])
        want = digest(written.toPandas())
        got = digest(scan_data(self.spark, out_def).toPandas())
        if got != want:
            raise AssertionError(f"read-back {got} != written result {want}")

    def cleanup(self, tmp: str, start_bytes: int) -> None:
        """Delete flow outputs and this process's engine scratch dirs;
        the temp dir must be back to its starting size."""
        shutil.rmtree(self.out_root, ignore_errors=True)
        for d in glob.glob(os.path.join(tmp, f"*_p{os.getpid()}_*")):
            shutil.rmtree(d, ignore_errors=True)
        end_bytes = dir_bytes(tmp)
        if end_bytes != start_bytes:
            self.fail("cleanup", f"temp dir holds {end_bytes} bytes, started with {start_bytes}")


def layer_metrics(tracer: Tracer, traced_passes: int, cores: int) -> dict[str, tuple[float, str]]:
    """Per-pass means over the traced passes, from their spans (only
    traced passes record spans)."""
    spans = tracer.spans
    n = max(traced_passes, 1)

    def by_name(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    items = by_name("query") + by_name("flow")

    def total(name: str) -> float:
        return sum(duration(s) for s in by_name(name)) / n

    def spark_sum(key: str, over: list[dict]) -> float:
        return sum(s["spark"][key] for s in over) / n

    def delta(key: str) -> float:
        return sum(s["end"][key] - s["start"][key] for s in items) / n

    wall = sum(duration(s) for s in items) / n
    task_s = spark_sum("executorRunTime", items) / 1e3
    task_cpu_s = spark_sum("executorCpuTime", items) / 1e9
    stages = spark_sum("stages", items)
    saves = by_name("sources.save")
    mb = 1024.0 * 1024.0
    return {
        "plans.build_s": (total("plans.build"), "s"),
        "plans.build_jobs": (spark_sum("jobs", by_name("plans.build")), "count"),
        "proc.jvm_driver_cpu_s": (delta("jvm_cpu") - task_cpu_s, "s"),
        "proc.pydriver_cpu_s": (delta("pydriver_cpu"), "s"),
        "proc.pyworker_cpu_s": (delta("pyworker_cpu"), "s"),
        "exec.action_s": (total("exec.action"), "s"),
        "exec.task_s": (task_s, "s"),
        "exec.task_cpu_s": (task_cpu_s, "s"),
        "exec.gc_s": (spark_sum("jvmGcTime", items) / 1e3, "s"),
        "exec.shuffle_read_mb": (spark_sum("shuffleReadBytes", items) / mb, "MB"),
        "exec.shuffle_write_mb": (spark_sum("shuffleWriteBytes", items) / mb, "MB"),
        "exec.spill_mb": (
            (spark_sum("memoryBytesSpilled", items) + spark_sum("diskBytesSpilled", items)) / mb, "MB"),
        "exec.input_mb": (spark_sum("inputBytes", items) / mb, "MB"),
        "exec.jobs": (spark_sum("jobs", items), "count"),
        "exec.stages": (stages, "count"),
        "exec.tasks": (spark_sum("numTasks", items), "count"),
        "exec.stages_skipped_frac": (spark_sum("stages_skipped", items) / stages if stages else 0.0, "frac"),
        "exec.core_util": (task_s / (cores * wall) if wall else 0.0, "frac"),
        "exec.failed_tasks": (spark_sum("numFailedTasks", items), "count"),
        "model.load_s": (total("model.load"), "s"),
        "sources.scan_s": (total("sources.scan"), "s"),
        "runner.apply_s": (total("runner.apply"), "s"),
        "validate.validate_s": (total("validate.validate"), "s"),
        "sources.save_s": (total("sources.save"), "s"),
        "sources.save_mb": (sum(s["save_bytes"] for s in saves) / n / mb, "MB"),
        "sources.save_files": (sum(s["save_files"] for s in saves) / n, "count"),
        "session.free_s": (total("session.free"), "s"),
    }


def run(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    dataset: str = DATASET,
    extra_queries: dict | None = None,
) -> dict:
    """One benchmark run; returns the result object (the stdout line).

    ``dataset`` names the input tables under ``data/`` and
    ``extra_queries`` ({name: fn}) adds items to a query workload; the
    self-test uses both."""
    wl = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    with run_env(cores) as dirs:
        t0 = time.perf_counter()
        from openetlagent_spark.plans import HARNESS_ORACLES, HARNESS_QUERIES
        from openetlagent_spark.session import get_spark

        t_session = time.perf_counter()
        spark = get_spark(f"perfbench-{workload}")
        session_start_s = time.perf_counter() - t_session
        setup_s = process_age_s()
        log(f"{workload}: session ready, setup {setup_s:.2f}s (imports {t_session - t0:.2f}s)")

        sc = spark.sparkContext
        gateway_proc = sc._gateway.proc
        procs = ProcCounters(int(sc._jvm.ProcessHandle.current().pid()))
        if trace:  # the RSS sampler wakes every 0.5 s; keep it out of timed runs
            procs.start()
        tracer = Tracer(spark, procs, enabled=False)
        try:
            queries = {**HARNESS_QUERIES, **(extra_queries or {})}
            items = [*wl.items, *(extra_queries or ())]
            data_dir = dataset_dir(dataset)
            expected = oracle_digests(dataset, tuple(q for q in items if q in HARNESS_ORACLES), HARNESS_ORACLES)
            bench = Bench(spark, wl, queries, data_dir, dirs["tmp"], tracer)
            start_bytes = dir_bytes(dirs["tmp"])
            rng = random.Random(seed)

            def order() -> list[str]:
                return rng.sample(items, len(items))

            first_pass_s, ts = bench.run_pass(order(), 0, expected)
            log(f"cold pass: {first_pass_s:.3f}s, items {[round(t, 3) for t in ts]}")

            # Steady phase: passes started in the first half of the window
            # warm up (JIT keeps speeding passes up for ~10 s); the rest are
            # measured.  Traced runs alternate traced and untraced measured
            # passes.
            walls, traced_walls, times = [], [], []
            t_steady = time.perf_counter()
            pass_no = 1
            while (
                time.perf_counter() - t_steady < seconds
                or len(walls) < MIN_MEASURED_PASSES
                or (trace and len(traced_walls) < 2)
            ):
                measured = time.perf_counter() - t_steady >= seconds / 2
                traced = trace and measured and len(traced_walls) <= len(walls)
                tracer.enabled = traced
                wall, ts = bench.run_pass(order(), pass_no)
                tracer.enabled = False
                kind = "traced" if traced else "measured" if measured else "warm-up"
                log(f"pass {pass_no} {kind}: {wall:.3f}s, items {[round(t, 3) for t in ts]}")
                if traced:
                    traced_walls.append(wall)
                elif measured:
                    walls.append(wall)
                    times.extend(ts)
                pass_no += 1
            bench.cleanup(dirs["tmp"], start_bytes)
            if not times:
                raise RuntimeError("no item succeeded in a measured pass")
        finally:
            if trace:
                procs.stop()
            spark.stop()
            sc._gateway.shutdown()
            gateway_proc.stdin.close()
            gateway_proc.wait(timeout=60)
            type(sc)._gateway = type(sc)._jvm = None  # a later run in this process relaunches the JVM

    if trace:
        tracer.dump(os.path.join(WORK, f"trace-{workload}-seed{seed}.json"))
        metrics = layer_metrics(tracer, len(traced_walls), cores)
        metrics["session.start_s"] = (session_start_s, "s")
        metrics["trace.overhead_frac"] = (statistics.median(traced_walls) / statistics.median(walls) - 1.0, "frac")
        metrics["proc.peak_rss_mb"] = (procs.peak_rss_mb(), "MB")
        metrics["error_rate"] = (bench.failed / bench.attempted, "frac")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_pass_s": (first_pass_s, "s"),
            "pass_s": (statistics.median(walls), "s"),
            "query_s_p50": (statistics.median(times), "s"),
        }
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except CounterError as exc:
        log(f"traced run failed: {exc}")
        return 3
    except Exception:
        traceback.print_exc()
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
