"""Benchmark of the yago4_spark pipeline, described in BENCHMARK.json.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process makes the workload's inputs
from ``--seed`` (cached under ``.perfbench_work/cache``), starts Spark on
``local[4]`` with 4 shuffle partitions and a JVM heap sized below
physical memory, then:

* ``--trace 0`` runs the workload back to back for ``--seconds`` seconds,
  at least once, and reports the end-to-end metrics:

  - ``wall_s``: median wall time of one run. With the one second of
    BENCHMARK.json this is a single run in a fresh JVM, as a CLI user
    pays it: a warm-up run per process would double the cost of the
    about one-minute ``kg_build`` run;
  - ``setup_s``: ``get_spark()``, from the JVM launch to a ready session;
  - ``peak_rss_mb``: peak resident memory of this process tree (Python
    process, its JVM, Python workers; shared pages once) during the
    timed runs.

* ``--trace 1`` makes one traced run and reports the per-layer metrics of
  spans.py: seven counters per layer from Spark's status store (the
  session layer, which runs no job, reports its time alone), named
  counters, the traced wall time (to set against ``wall_s``), the time
  spent in the tracer itself and the share of the wall covered by
  top-level spans.

Every run's outputs are checked (workloads.py); a run that raises or fails
its check counts in ``failed``. The last line of standard output is the
result object; the line before it records the session sizing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CORES = 4


def log(msg: str) -> None:
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def driver_memory() -> str:
    """A quarter of physical memory, at most 2g: the runs need less, and
    the 16g default can exceed what the host has free."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return f"{max(1, min(2, total_kb // (4 * 1024 * 1024)))}g"


class RssSampler:
    """Samples the resident memory of this process and its descendants
    while :attr:`active` is set; :attr:`peak_mb` is the largest total seen.
    Each process counts its proportional set size, so pages the forked
    Python workers share are counted once for the tree, not once per
    worker (a plain RSS sum moved by a third with the number of idle
    workers alive)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.active = threading.Event()
        self.done = threading.Event()
        self.peak_mb = 0.0
        self.thread = threading.Thread(target=self._loop, daemon=True)

    def tree_rss_mb(self) -> float:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total_kb, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total_kb += next(int(line.split()[1]) for line in f
                                     if line.startswith("Pss:"))
            except (OSError, StopIteration, IndexError, ValueError):
                continue
        return total_kb * 1024 / 1e6

    def _loop(self) -> None:
        while not self.done.is_set():
            if self.active.wait(0.2) and not self.done.is_set():
                self.peak_mb = max(self.peak_mb, self.tree_rss_mb())
                time.sleep(self.interval)

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.done.set()
        self.thread.join(timeout=10)


class Bench:
    def __init__(self, workload, run_root: Path, trace: bool):
        self.w = workload
        self.run_root = run_root
        self.trace = trace
        self.n_dirs = 0
        self.spark = None
        self.first_digest = None

    def fresh_dir(self) -> Path:
        self.n_dirs += 1
        return self.run_root / f"r{self.n_dirs}"

    def start_session(self):
        from yago4_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.run_root / "spark-local"),
            "spark.sql.warehouse.dir": str(self.run_root / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.run_root / 'tmp'}",
        }
        if self.trace:
            # keep every job and stage of a run for job_group_stats
            extra.update({"spark.ui.retainedJobs": "1000000",
                          "spark.ui.retainedStages": "1000000",
                          "spark.sql.ui.retainedExecutions": "1000000"})
        self.spark = get_spark(app_name=f"perfbench-{self.w.name}",
                               master=f"local[{CORES}]",
                               shuffle_partitions=CORES, extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")

    def release(self, run_dir: Path) -> None:
        """Isolate runs: run_pipeline and the operators persist frames
        they never unpersist."""
        from yago4_spark.operators.cache import release_all

        self.spark.catalog.clearCache()
        release_all()
        shutil.rmtree(run_dir, ignore_errors=True)

    def setup(self, session_span) -> float:
        t0 = time.perf_counter()
        with session_span("session"):
            self.start_session()
        return time.perf_counter() - t0

    def check(self, run_dir: Path) -> list[str]:
        d = self.w.digest(self.spark, run_dir)
        errors = self.w.check_digest(d)
        if self.first_digest is None:
            errors += self.w.check_first(self.spark, run_dir, d)
            self.first_digest = d
        elif d != self.first_digest:
            errors.append("outputs differ from the first run's")
        return errors

    def timed(self, seconds: float, sampler: RssSampler):
        walls, attempted, failed = [], 0, 0
        deadline = time.perf_counter() + seconds
        while True:
            run_dir = self.fresh_dir()
            attempted += 1
            sampler.active.set()
            t0 = time.perf_counter()
            try:
                try:
                    self.w.run(self.spark, run_dir)
                    walls.append(time.perf_counter() - t0)
                finally:
                    sampler.active.clear()
                errors = self.check(run_dir)
            except Exception:
                traceback.print_exc()
                errors = ["run raised"]
            if errors:
                failed += 1
                print(f"perfbench: run {attempted} failed: {errors}",
                      file=sys.stderr)
            self.release(run_dir)
            if time.perf_counter() >= deadline:
                return walls, attempted, failed

    def traced(self, tracer):
        from perfbench import spans

        run_dir = self.fresh_dir()
        overhead0 = tracer.overhead_s
        with spans.patched(self.w.traced_targets(tracer)):
            t0 = time.perf_counter()
            try:
                self.w.run(self.spark, run_dir, tracer.span)
                errors = []
            except Exception:
                traceback.print_exc()
                errors = ["run raised"]
            t1 = time.perf_counter()
        overhead = tracer.overhead_s - overhead0
        metrics = tracer.layer_metrics(
            spans.job_group_stats(self.spark.sparkContext), CORES)
        metrics.update({name: 0.0 for name, _ in spans.NAMED})
        if not errors:
            try:
                errors = self.check(run_dir)
                metrics.update(self.w.named_counters(self.spark, run_dir))
            except Exception:
                traceback.print_exc()
                errors = ["check raised"]
        metrics.update({
            "closure.calls": tracer.count("closure"),
            "catalog.jobs_per_commit":
                metrics["catalog.commit.jobs"] / max(1, tracer.commit_spans()),
            "trace.wall_s": t1 - t0,
            "trace.overhead_s": overhead,
            "trace.span_coverage": tracer.coverage(t0, t1),
        })
        if errors:
            print(f"perfbench: traced run failed: {errors}", file=sys.stderr)
        self.release(run_dir)
        return metrics, 1, int(bool(errors))

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "yago4_spark" / "__init__.py").is_file():
        print(f"perfbench: no yago4_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # import the program and this package from the checkout, never from
    # the script's own directory
    if sys.path and Path(sys.path[0]).resolve() == Path(__file__).resolve().parent:
        sys.path.pop(0)
    sys.path.insert(0, str(ROOT))
    from perfbench import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"choose from {sorted(workloads.WORKLOADS)}")

    work = ROOT / ".perfbench_work"
    run_root = work / f"run-{os.getpid()}"
    (work / "cache").mkdir(parents=True, exist_ok=True)
    (run_root / "tmp").mkdir(parents=True, exist_ok=True)
    mem = driver_memory()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    print(json.dumps({"session": {"master": f"local[{CORES}]",
                                  "shuffle_partitions": CORES,
                                  "driver_memory": mem,
                                  "nproc": os.cpu_count()}}), flush=True)

    w = workloads.WORKLOADS[args.workload](work / "cache", args.seed)
    log("inputs ready")
    bench = Bench(w, run_root, bool(args.trace))
    tracer = spans.Tracer() if args.trace else None
    try:
        setup_s = bench.setup(tracer.span if tracer else workloads.no_span)
        if tracer:
            values, attempted, failed = bench.traced(tracer)
            units = spans.per_layer_units()
        else:
            with RssSampler() as sampler:
                walls, attempted, failed = bench.timed(args.seconds, sampler)
            values = {"wall_s": statistics.median(walls) if walls else 0.0,
                      "setup_s": setup_s, "peak_rss_mb": sampler.peak_mb}
            units = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
    finally:
        log("runs done")
        bench.stop()
        shutil.rmtree(run_root, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
