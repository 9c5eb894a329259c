"""Workload drivers: set-up, one timed call, its output check, and the
per-layer metrics of a traced call.

A call is timed around the library call alone: ``run_pipeline`` (every
stage is committed to the store before it returns), or the admission,
matches collect and index delta write of ``index_refresh``. Reading the
output back for the check happens after the clock stops.
"""

from __future__ import annotations

import pathlib
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mashing_pumpkins_spark.config import PipelineConfig
from mashing_pumpkins_spark.plans.checkpoint import ParquetCheckpointStore

from . import checks, workloads
from .procstat import tree_cpu_s
from .trace import COUNTERS, Tracer, TracingStore, group_counters, last_job_id, verify_strategy

# the warm-up call runs on every WARM_STRIDE-th doc of the workload's input
WARM_STRIDE = 16
PIPELINE_GROUPS = ("extract", "exact", "signatures", "bands", "candidates", "edges", "clusters")
REFRESH_GROUPS = ("intra_batch", "match", "append")

# per-layer metrics of a traced run: (name, unit, better). Spark task
# counters per job group follow as spark.<group>.<counter> (trace.COUNTERS).
# A layer a workload does not run reports 0. Where a layer counter equals a
# group counter it is not repeated: banding.shuffle_write_mb is
# spark.bands.shuffle_write_mb, candidates.{shuffle_write_mb,spill_mb} are
# spark.candidates.*, signature.executor_cpu_s is
# spark.signatures.executor_cpu_s and verify.jobs is spark.edges.jobs.
LAYERS = [
    ("hashkernels.sketch_mb_s", "MB/s", "higher"),
    ("hashkernels.intersect_mpairs_s", "Mpairs/s", "higher"),
    ("signature.wall_s", "s", "lower"),
    ("signature.boundary_s", "s", "lower"),
    ("checkpoint.write_s", "s", "lower"),
    ("checkpoint.read_s", "s", "lower"),
    ("checkpoint.bytes_written", "B", "lower"),
    ("extract.wall_s", "s", "lower"),
    ("exact.wall_s", "s", "lower"),
    ("exact.edges_out", "count", "higher"),
    ("banding.wall_s", "s", "lower"),
    ("banding.rows_out", "count", "lower"),
    ("candidates.wall_s", "s", "lower"),
    ("candidates.rows_out", "count", "lower"),
    ("candidates.star_buckets", "count", "lower"),
    ("candidates.star_members", "count", "lower"),
    ("verify.wall_s", "s", "lower"),
    ("verify.driver_s", "s", "lower"),
    ("verify.pairs_in", "count", "lower"),
    ("verify.edges_out", "count", "higher"),
    ("verify.precision", "ratio", "higher"),
    ("verify.strategy", "enum", "lower"),
    ("verify.collect_mb", "MB", "lower"),
    ("connected_components.wall_s", "s", "lower"),
    ("connected_components.driver_s", "s", "lower"),
    ("connected_components.path", "enum", "lower"),
    ("connected_components.iterations", "count", "lower"),
    ("connected_components.edges_in", "count", "higher"),
    ("incremental.intra_batch_s", "s", "lower"),
    ("incremental.match_s", "s", "lower"),
    ("incremental.append_s", "s", "lower"),
    ("incremental.candidates", "count", "lower"),
    ("incremental.matches", "count", "higher"),
    ("incremental.fresh", "count", "higher"),
    ("driver.floor_s", "s", "lower"),
    ("host.probe_mb_s", "MB/s", "higher"),
    ("trace.overhead", "ratio", "lower"),
    ("failed_ops_ratio", "ratio", "lower"),
] + [
    (f"spark.{g}.{c}", unit, "lower")
    for g in PIPELINE_GROUPS + REFRESH_GROUPS
    for c, unit in COUNTERS.items()
]
STRATEGY = {1: "broadcast", 2: "broadcast-prefilter+join", 3: "join"}


@dataclass
class CallResult:
    wall_s: float
    cpu_s: float
    bytes_written: int
    recall: float
    precision: float
    problem: str = ""
    layers: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.problem


def write_docs(urls: list[str], texts: list[str], out: pathlib.Path, parts: int) -> str:
    """(url, text) as ``parts`` parquet files, so Spark reads it as that
    many partitions, as it would a crawl table."""
    out.mkdir(parents=True)
    n = len(urls)
    for p in range(parts):
        lo, hi = n * p // parts, n * (p + 1) // parts
        tbl = pa.table({"url": urls[lo:hi], "text": texts[lo:hi]})
        pq.write_table(tbl, out / f"part-{p:05d}.parquet")
    return str(out)


def dir_bytes(path: pathlib.Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _median_of(dicts: list[dict]) -> dict:
    keys = dicts[0].keys() if dicts else ()
    return {k: statistics.median(d[k] for d in dicts) for k in keys}


def _rate(fn, unit_count: float, min_s: float = 0.3, reps: int = 3) -> float:
    """Median rate of ``fn`` in ``unit_count`` units per second, over
    ``reps`` passes of at least ``min_s`` each."""
    rates = []
    for _ in range(reps):
        n = 0
        t0 = time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        rates.append(n * unit_count / dt)
    return statistics.median(rates)


class Bench:
    """Shared set-up loop and run-level metrics; subclasses supply the
    inputs, the call and its check."""

    groups: tuple[str, ...] = ()

    def __init__(self, name: str, spark, seed: int, size: str, run_dir: pathlib.Path):
        self.name, self.spark, self.seed, self.size = name, spark, seed, size
        self.sc = spark.sparkContext
        self.run_dir = run_dir
        self.cfg = PipelineConfig()
        self.parts = self.sc.defaultParallelism
        self.n_calls = 0
        self.reference_digest = None

    def setup(self, reps: int) -> float:
        """Input generation and write ``reps`` times (the last one is
        kept), then the ground truth and the index build, if the workload
        has one. Returns the median input time plus the index build time."""
        times = []
        for r in range(reps):
            d = self.run_dir / f"inputs-{r}"
            t0 = time.perf_counter()
            self.make_inputs(d)
            times.append(time.perf_counter() - t0)
            if r < reps - 1:
                shutil.rmtree(d)
        self.prepare_truth()
        t0 = time.perf_counter()
        self.build_index(d)
        return statistics.median(times) + time.perf_counter() - t0

    def build_index(self, d: pathlib.Path) -> None:
        pass

    def warm_up(self) -> None:
        """One untimed call on an evenly spaced slice of the input: it runs
        every code path once (JIT, code generation, Python workers) at a
        fraction of a full call's cost. Its output is not checked."""
        raise NotImplementedError

    def check_digest(self, digest: str) -> str:
        """The output digest must repeat across the calls of a run and
        across runs at the same seed in this checkout."""
        if self.reference_digest is None:
            path = self.run_dir.parent / "digests" / f"{self.name}-{self.size}-{self.seed}"
            if path.is_file():
                self.reference_digest = path.read_text()
            else:
                path.parent.mkdir(parents=True, exist_ok=True)
                path.write_text(digest)
                self.reference_digest = digest
        if digest != self.reference_digest:
            return "output digest differs from an earlier call at this seed"
        return ""

    def call(self, traced: bool) -> CallResult:
        self.n_calls += 1
        tracer = Tracer(self.sc) if traced else None
        after = last_job_id(self.sc) if traced else -1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        out = self.timed(tracer)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        try:
            res = self.verify(out, wall, cpu)
            if traced:
                counters = group_counters(self.sc, after, self.groups)
                res.layers = self.layers(out, tracer, counters, wall)
                for g, cnt in counters.items():
                    for c in COUNTERS:
                        res.layers[f"spark.{g}.{c}"] = cnt[c]
            return res
        finally:
            shutil.rmtree(out["dir"], ignore_errors=True)
            self.spark.catalog.clearCache()

    def layer_metrics(self, calls, traced, attempted, failed, probe) -> dict:
        values = dict.fromkeys((n for n, _, _ in LAYERS), 0.0)
        kern = self.kernel_rates()
        med = _median_of([c.layers for c in traced])
        values.update(med)
        values.update(kern)
        if "spark.signatures.executor_run_s" in med and kern["hashkernels.sketch_mb_s"]:
            kernel_s = self.sketch_bytes / (kern["hashkernels.sketch_mb_s"] * 1e6)
            values["signature.boundary_s"] = med["spark.signatures.executor_run_s"] - kernel_s
        plain = statistics.median(self.n_docs / c.wall_s for c in calls)
        if traced:
            with_trace = statistics.median(self.n_docs / c.wall_s for c in traced)
            values["trace.overhead"] = 1.0 - with_trace / plain
        values["host.probe_mb_s"] = probe or 0.0
        values["failed_ops_ratio"] = failed / attempted
        units = {n: u for n, u, _ in LAYERS}
        return {n: {"value": float(values[n]), "unit": units[n]} for n, _, _ in LAYERS}

    def kernel_rates(self) -> dict:
        """Single-core kernel rates on this workload's own texts and pairs."""
        from mashing_pumpkins_spark.functions.sketch_np import signatures_from_buffer
        from mashing_pumpkins_spark.operators import _intersect_cext

        raw = [t.encode("utf-8") for t in self.kernel_texts]
        lens = np.fromiter((len(r) for r in raw), np.int64, len(raw))
        starts = np.zeros(len(raw), np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        buf = np.frombuffer(b"".join(raw), dtype=np.uint8)
        sketch = _rate(
            lambda: signatures_from_buffer(buf, starts, lens, self.cfg.sketch), buf.size / 1e6
        )
        sk, ia, ib = self.kernel_pairs
        if _intersect_cext.load() is None or not ia.size:
            pairs = 0.0
        else:
            pairs = _rate(
                lambda: _intersect_cext.intersect_counts_indexed(sk.vals, sk.starts, sk.lens, ia, ib),
                ia.size / 1e6,
            )
        return {"hashkernels.sketch_mb_s": sketch, "hashkernels.intersect_mpairs_s": pairs}


class PipelineBench(Bench):
    """``run_pipeline`` over a seeded corpus (crawl_dedup, dup_storm)."""

    groups = PIPELINE_GROUPS

    def make_inputs(self, d: pathlib.Path) -> None:
        c = self.corpus = workloads.generate(self.name, self.seed, self.size)
        self.pages = self.spark.read.parquet(write_docs(c.urls, c.texts, d / "pages", self.parts))
        warm = write_docs(c.urls[::WARM_STRIDE], c.texts[::WARM_STRIDE], d / "warm", self.parts)
        self.warm_pages = self.spark.read.parquet(warm)

    def warm_up(self) -> None:
        from mashing_pumpkins_spark.plans.pipeline import run_pipeline

        ck = self.run_dir / "warm-ckpt"
        store = ParquetCheckpointStore(str(ck), self.cfg.config_hash())
        run_pipeline(self.spark, self.warm_pages, self.cfg, store=store)
        shutil.rmtree(ck)
        self.spark.catalog.clearCache()

    def prepare_truth(self) -> None:
        c = self.corpus
        self.n_docs, self.n_bytes = c.n_docs, c.n_bytes
        self.sk = checks.Sketches(c.texts, self.cfg.sketch)
        self.truth = checks.truth_pairs(c.label, self.sk, self.cfg.jaccard_threshold, self.seed)
        # bytes the signatures stage sketches: distinct texts past extract
        self.kernel_texts = sorted(
            {t for t in c.texts if len(t.encode("utf-8")) >= self.cfg.min_doc_bytes}
        )
        self.sketch_bytes = sum(len(t.encode("utf-8")) for t in self.kernel_texts)
        self.kernel_pairs = (self.sk, *self.truth)

    def timed(self, tracer):
        from mashing_pumpkins_spark.plans.pipeline import run_pipeline

        ck = self.run_dir / f"ckpt-{self.n_calls}"
        h = self.cfg.config_hash()
        store = TracingStore(str(ck), h, tracer) if tracer else ParquetCheckpointStore(str(ck), h)
        _, report = run_pipeline(self.spark, self.pages, self.cfg, store=store)
        return {"dir": ck, "report": report}

    def verify(self, out, wall, cpu) -> CallResult:
        tbl = pq.read_table(out["dir"] / "clusters.parquet", columns=["url", "cluster_id"])
        rows = list(zip(tbl.column("url").to_pylist(), tbl.column("cluster_id").to_pylist()))
        found = checks.cluster_labels(self.corpus.urls, dict(rows))
        recall, precision = checks.pair_quality(self.corpus.label, found, self.truth)
        problem = self.check_digest(checks.digest(rows))
        if recall < 0.99:
            problem = problem or f"pair recall {recall:.4f} < 0.99"
        return CallResult(wall, cpu, dir_bytes(out["dir"]), recall, precision, problem)

    def layers(self, out, tracer, counters, wall) -> dict:
        spans = tracer.spans
        report = out["report"]
        tracer.group("report")
        try:
            star_buckets, star_members = report.star_buckets, report.star_members
        finally:
            tracer.clear()
        kinds = pq.read_table(out["dir"] / "exact.parquet", columns=["kind"]).column("kind")
        exact_edges = kinds.to_pylist().count("edge")
        pairs_in, edges_out = spans["candidates"].rows, spans["edges"].rows
        return {
            "signature.wall_s": spans["signatures"].wall_s,
            "checkpoint.write_s": sum(s.write_s for s in spans.values()),
            "checkpoint.read_s": sum(s.read_s for s in spans.values()),
            "checkpoint.bytes_written": dir_bytes(out["dir"]),
            "extract.wall_s": spans["extract"].wall_s,
            "exact.wall_s": spans["exact"].wall_s,
            "exact.edges_out": exact_edges,
            "banding.wall_s": spans["bands"].wall_s,
            "banding.rows_out": spans["bands"].rows,
            "candidates.wall_s": spans["candidates"].wall_s,
            "candidates.rows_out": pairs_in,
            "candidates.star_buckets": star_buckets,
            "candidates.star_members": star_members,
            "verify.wall_s": spans["edges"].wall_s,
            "verify.driver_s": spans["edges"].compute_s,
            "verify.pairs_in": pairs_in,
            "verify.edges_out": edges_out,
            "verify.precision": edges_out / pairs_in if pairs_in else 0.0,
            "verify.strategy": verify_strategy(spans["edges"].plan),
            "verify.collect_mb": counters["edges"]["result_mb"],
            "connected_components.wall_s": spans["clusters"].wall_s,
            "connected_components.driver_s": spans["clusters"].compute_s,
            "connected_components.path": 1 if report.cc_iterations > 0 else 0,
            "connected_components.iterations": report.cc_iterations,
            "connected_components.edges_in": edges_out + exact_edges,
            "driver.floor_s": wall - sum(s.wall_s for s in spans.values()),
        }

    def summary(self, calls, traced) -> list[str]:
        lines = [
            f"perfbench {self.name}: {self.n_docs} docs, {self.n_bytes} text bytes, "
            f"{len(calls)} timed calls, walls {[round(c.wall_s, 3) for c in calls]}"
        ]
        if traced:
            last = traced[-1].layers
            lines.append(
                f"perfbench trace: verify.strategy={STRATEGY[last['verify.strategy']]} "
                f"connected_components.path="
                f"{'distributed' if last['connected_components.path'] else 'driver'} "
                f"star_buckets={last['candidates.star_buckets']} "
                f"floor_share={last['driver.floor_s'] / traced[-1].wall_s:.3f}"
            )
        return lines


class RefreshBench(Bench):
    """index_refresh: admit a batch against an index committed in set-up."""

    groups = REFRESH_GROUPS

    def make_inputs(self, d: pathlib.Path) -> None:
        self.inputs = workloads.generate(self.name, self.seed, self.size)
        comm, batch = self.inputs.committed, self.inputs.batch
        self.committed = self.spark.read.parquet(
            write_docs(comm.urls, comm.texts, d / "committed", self.parts)
        )
        self.batch = self.spark.read.parquet(
            write_docs(batch.urls, batch.texts, d / "batch", self.parts)
        )
        warm = write_docs(
            batch.urls[::WARM_STRIDE], batch.texts[::WARM_STRIDE], d / "warm", self.parts
        )
        self.warm_batch = self.spark.read.parquet(warm)

    def build_index(self, d: pathlib.Path) -> None:
        """Commit the (signatures, bands) index of the committed corpus."""
        from mashing_pumpkins_spark.operators.incremental import index_tables

        sigs, bands = index_tables(self.committed, self.cfg)
        sigs = sigs.persist()
        sigs.write.parquet(str(d / "index" / "signatures"))
        bands.write.parquet(str(d / "index" / "bands"))
        sigs.unpersist()
        self.sigs = self.spark.read.parquet(str(d / "index" / "signatures"))
        self.bands = self.spark.read.parquet(str(d / "index" / "bands"))

    def warm_up(self) -> None:
        out = self.admit(self.warm_batch, self.run_dir / "warm-delta", None)
        shutil.rmtree(out["dir"])
        self.spark.catalog.clearCache()

    def prepare_truth(self) -> None:
        batch = self.inputs.batch
        self.n_docs, self.n_bytes = batch.n_docs, batch.n_bytes
        self.expected, self.fresh = checks.refresh_expectation(self.inputs, self.cfg)
        self.kernel_texts = batch.texts
        sk = checks.Sketches(batch.texts, self.cfg.sketch)
        ia, ib = np.triu_indices(batch.n_docs, 1)
        self.kernel_pairs = (sk, ia.astype(np.int64), ib.astype(np.int64))

    def timed(self, tracer):
        return self.admit(self.batch, self.run_dir / f"delta-{self.n_calls}", tracer)

    def admit(self, batch, d: pathlib.Path, tracer):
        from mashing_pumpkins_spark.operators.incremental import incremental_near_dup, index_tables

        group = tracer.group if tracer else (lambda name: None)
        t = [time.perf_counter()]
        group("intra_batch")
        matches, fresh = incremental_near_dup(batch, self.sigs, self.bands, self.cfg)
        t.append(time.perf_counter())
        group("match")
        # fresh is an anti-join against matches: keep matches cached so the
        # delta write below reuses them instead of re-running the band join
        matches = matches.persist()
        rows = [(r.new_url, r.match_url, r.jaccard) for r in matches.collect()]
        t.append(time.perf_counter())
        group("append")
        d_sigs, d_bands = index_tables(fresh, self.cfg)
        d_sigs = d_sigs.persist()
        d_sigs.write.parquet(str(d / "signatures"))
        d_bands.write.parquet(str(d / "bands"))
        d_sigs.unpersist()
        matches.unpersist()
        t.append(time.perf_counter())
        if tracer:
            tracer.clear()
        return {"dir": d, "matches": rows, "t": t}

    def verify(self, out, wall, cpu) -> CallResult:
        got = {(a, b): j for a, b, j in out["matches"]}
        fresh = set(pq.read_table(out["dir"] / "signatures", columns=["url"]).column("url").to_pylist())
        hit = sum(1 for k, j in got.items() if self.expected.get(k) == j)
        recall = hit / len(self.expected) if self.expected else 1.0
        precision = hit / len(got) if got else 1.0
        problem = self.check_digest(
            checks.digest([(a, b) for a, b in got] + [(u, "") for u in fresh])
        )
        if got != self.expected:
            problem = problem or (
                f"matches differ from brute force: {len(got)} found, "
                f"{len(self.expected)} expected, {hit} equal"
            )
        elif fresh != self.fresh:
            problem = f"fresh set differs: {len(fresh)} found, {len(self.fresh)} expected"
        return CallResult(wall, cpu, dir_bytes(out["dir"]), recall, precision, problem)

    def layers(self, out, tracer, counters, wall) -> dict:
        from pyspark.sql import functions as F

        from mashing_pumpkins_spark.operators.incremental import index_tables

        t = out["t"]
        admitted = {a for a, _, _ in out["matches"]} | set(self.fresh)
        tracer.group("report")
        try:
            keep = self.spark.createDataFrame([(u,) for u in sorted(admitted)], "url string")
            _, sb = index_tables(self.batch.join(keep, "url"), self.cfg)
            committed = self.bands.select(F.col("url").alias("match_url"), "band_key")
            candidates = (
                sb.select("url", "band_key")
                .join(committed, "band_key")
                .where(F.col("url") != F.col("match_url"))
                .select("url", "match_url")
                .distinct()
                .count()
            )
        finally:
            tracer.clear()
        return {
            "incremental.intra_batch_s": t[1] - t[0],
            "incremental.match_s": t[2] - t[1],
            "incremental.append_s": t[3] - t[2],
            "incremental.candidates": candidates,
            "incremental.matches": len(out["matches"]),
            "incremental.fresh": pq.read_table(out["dir"] / "signatures", columns=["url"]).num_rows,
            "checkpoint.write_s": t[3] - t[2],
            "checkpoint.bytes_written": dir_bytes(out["dir"]),
            "driver.floor_s": wall - (t[3] - t[0]),
        }

    def summary(self, calls, traced) -> list[str]:
        lines = [
            f"perfbench {self.name}: batch {self.n_docs} docs ({self.n_bytes} bytes) against "
            f"{self.inputs.committed.n_docs} committed, {len(self.expected)} expected matches, "
            f"{len(self.fresh)} expected fresh, {len(calls)} timed calls, "
            f"walls {[round(c.wall_s, 3) for c in calls]}"
        ]
        if traced:
            last = traced[-1].layers
            lines.append(
                f"perfbench trace: matches={last['incremental.matches']} "
                f"fresh={last['incremental.fresh']} candidates={last['incremental.candidates']}"
            )
        return lines


def make(name: str, spark, seed: int, size: str, run_dir: pathlib.Path) -> Bench:
    cls = RefreshBench if name == "index_refresh" else PipelineBench
    return cls(name, spark, seed, size, run_dir)
