#!/usr/bin/env python3
"""Near-dup pipeline benchmark.

    python3 perfbench/run.py --workload dup_storm --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One driver process, a closed loop
of calls into the library's public functions on ``local[nproc]``:

- ``crawl_dedup`` / ``dup_storm``: ``plans.pipeline.run_pipeline`` over a
  seeded corpus, each call on a fresh checkpoint store (``store=``);
- ``index_refresh``: ``operators.incremental.incremental_near_dup``
  against an index committed with ``index_tables`` during set-up, then
  the ``index_tables(fresh)`` delta written next to it.

Set-up (timed as ``setup_s``): session start, input generation and write
repeated ``SETUP_REPS`` times (median taken), the index build, and one
untimed warm-up call on a slice of the input. Then calls repeat until
``--seconds`` have passed (at least one); every call's output is checked,
and a call that raises or fails its check counts as failed. ``--trace 1``
alternates untraced calls with traced ones and prints the per-layer
metrics instead of the end-to-end ones.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout; compiled kernels are kept in its ``tmp`` between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("crawl_dedup", "dup_storm", "index_refresh")
SETUP_REPS = 3

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s/kdoc",
    "peak_rss_mb": "MB",
    "ckpt_bytes_per_input_byte": "B/B",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
    "setup_s": "s",
}


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _env(run_dir: pathlib.Path) -> None:
    """Keep every file the run writes inside the checkout, and make the
    library importable by the Python workers Spark forks."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _driver_memory_mb() -> int:
    """A quarter of the machine's RAM, at most 2 GB: well below what the
    host has, whatever size it is."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(512, min(2048, total_kb // 1024 // 4))


def start_spark(run_dir: pathlib.Path):
    from pyspark.sql import SparkSession

    cores = os.cpu_count() or 1
    tmp = os.environ["TMPDIR"]
    heap_mb = _driver_memory_mb()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        # a fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when the collector grows the heap, so peak RSS repeats
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", str(run_dir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait until no process started by this one is left; after
    ``timeout``, terminate what remains."""
    from perfbench.procstat import descendants

    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants()
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while descendants() and time.monotonic() < end:
            time.sleep(0.1)


class Loop:
    """The closed loop: one call at a time, each checked. A call that
    raises or fails its check counts as failed; none is dropped."""

    def __init__(self, bench):
        self.bench = bench
        self.calls, self.traced = [], []
        self.attempted = self.failed = 0

    def one(self, traced: bool) -> None:
        self.attempted += 1
        try:
            res = self.bench.call(traced=traced)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return
        if not res.ok:
            self.failed += 1
            log(f"check failed: {res.problem}")
        (self.traced if traced else self.calls).append(res)

    def run(self, seconds: float, trace: bool) -> float:
        """Calls until ``seconds`` have passed, at least one; with
        ``trace`` each untraced call is followed by a traced one. Returns
        the peak memory (summed PSS) of the process tree over the loop."""
        from perfbench.procstat import RssSampler

        with RssSampler() as rss:
            rss.reset_peak()
            t0 = time.monotonic()
            while not self.calls or time.monotonic() - t0 < seconds:
                self.one(False)
                if trace:
                    self.one(True)
                if self.failed >= 3 and not self.calls:
                    break  # every call is failing: stop instead of looping
            return rss.peak_mb()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not (ROOT / "mashing_pumpkins_spark" / "__init__.py").is_file():
        print(f"no mashing_pumpkins_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = WORK / f"run-{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    _env(run_dir)
    probe = None
    if args.trace:
        # the host-state probe runs before the JVM starts: it forks
        import bench

        probe = bench._hw_probe(1)

    from perfbench import benches

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - t0
        log(f"session started in {session_s:.2f}s")
        bench = benches.make(args.workload, spark, args.seed, args.size, run_dir)
        inputs_s = bench.setup(SETUP_REPS)
        t0 = time.perf_counter()
        bench.warm_up()
        setup_s = session_s + inputs_s + time.perf_counter() - t0
        loop = Loop(bench)
        log(f"set-up done in {setup_s:.2f}s (inputs {inputs_s:.2f}s)")
        peak = loop.run(args.seconds, bool(args.trace))
        log(f"measured {len(loop.calls)} calls, {len(loop.traced)} traced")
        if not loop.calls:
            log("no call completed")
            return 1
        attempted, failed = loop.attempted, loop.failed
        if args.trace:
            metrics = bench.layer_metrics(loop.calls, loop.traced, attempted, failed, probe)
        else:
            metrics = end_to_end(bench, loop.calls, setup_s, peak)
        for line in bench.summary(loop.calls, loop.traced):
            print(line)
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
        log("stopped")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def end_to_end(bench, calls, setup_s: float, peak: float) -> dict:
    values = {
        "docs_per_s": statistics.median([bench.n_docs / c.wall_s for c in calls]),
        "cpu_s_per_kdoc": statistics.median([1000 * c.cpu_s / bench.n_docs for c in calls]),
        "peak_rss_mb": peak,
        "ckpt_bytes_per_input_byte": statistics.median([c.bytes_written / bench.n_bytes for c in calls]),
        "pair_recall": statistics.median([c.recall for c in calls]),
        "pair_precision": statistics.median([c.precision for c in calls]),
        "setup_s": setup_s,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
