"""Benchmark entry point.

    python3 perfbench/run.py --workload campaign_query --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints human-readable lines, then one JSON
object as the last line of stdout. See perfbench/README.md.
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
from contextlib import contextmanager, nullcontext  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
OPS = ("recommend", "targeting", "serve", "insert", "delete", "probe", "admit")
# Ops are bound by Spark job scheduling, not data; two task slots leave the
# other cores to the driver, the JVM's own threads and the Python workers.
MAX_CPUS = 2
TRACE_ROUNDS = 4


def pin_environment(root: str, work: str) -> int:
    """Single-threaded driver BLAS, a fixed Spark parallelism, and Python
    workers that import the engine from this checkout. Must run before
    numpy or pyspark are imported."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join([root, HERE])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    sys.path[:0] = [root, HERE]
    return cpus


@dataclass
class OpRecord:
    kind: str
    wall: float
    ok: bool
    rows: int = 0
    jobs: object = None  # probes.JobStats when traced
    driver_s: float = 0.0
    state_bytes: int = 0
    state_files: int = 0
    untraced_wall: float = 0.0  # the same call untraced, on every second traced read op


@dataclass
class Layer:
    calls: int = 0
    wall: float = 0.0
    jobs: object = None
    bytes_written: int = 0


@dataclass
class Timer:
    wall: float = 0.0


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    read_op: str = ""
    spans: object = None  # probes.SparkSpans in a traced run
    measuring: bool = False
    paused: bool = False  # tracing off for an untraced twin call
    ops: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict = field(default_factory=dict)
    state_dirs: list = field(default_factory=list)
    ingest: dict = field(default_factory=dict)

    # -- spans -------------------------------------------------------------
    @contextmanager
    def layer(self, name: str, walk: bool = False):
        """Time a call into one engine layer; in a traced run, also own the
        Spark jobs it starts and, with ``walk``, count the bytes it writes
        under the watched state directory. While tracing is paused it
        does nothing."""
        if self.paused:
            yield Timer()
            return
        lay = self.layers.setdefault(name, Layer())
        lay.calls += 1
        if self.spans is None:
            t, t0 = Timer(), time.perf_counter()
            try:
                yield t
            finally:
                t.wall = time.perf_counter() - t0
                lay.wall += t.wall
            return
        from probes import JobStats, dir_footprint, written_since

        walk = walk and bool(self.state_dirs)
        before = self._walk(dir_footprint) if walk else None
        with self.spans.span(name) as sp:
            yield sp
        if walk:
            lay.bytes_written += written_since(before, self._walk(dir_footprint))[0]
        lay.wall += sp.wall
        lay.jobs = lay.jobs or JobStats()
        lay.jobs.add(sp.spark)

    def _walk(self, footprint) -> dict:
        return {(d, k): v for d in self.state_dirs for k, v in footprint(d).items()}

    def op(self, kind: str, fn, check, rows: int = 0) -> None:
        """Run one op, timing ``fn`` only; ``check`` judges its output
        outside the timed region. A raising or wrong op counts as failed.

        In the measured phase of a traced run, every second read op is
        also called once with tracing paused, on the same inputs and
        state, and that untraced call comes first in every other pair; the
        pairs give ``trace.overhead_frac``. Its output is not checked
        again."""
        from probes import busy_outside_jobs, dir_footprint, written_since

        walk = self.spans is not None and bool(self.state_dirs) and rows
        before = self._walk(dir_footprint) if walk else None
        rec = OpRecord(kind, 0.0, False, rows)
        seen = sum(r.kind == kind for r in self.ops)
        twin = self.spans is not None and self.measuring and kind == self.read_op and seen % 2 == 0
        twin_first = twin and seen % 4 == 0
        try:
            if twin_first:
                rec.untraced_wall = self._untraced(fn)
            if self.spans is None:
                t0 = time.perf_counter()
                out = fn()
                rec.wall = time.perf_counter() - t0
            else:
                with self.spans.span(kind) as sp:
                    out = fn()
                rec.wall, rec.jobs = sp.wall, sp.spark
                rec.driver_s = busy_outside_jobs(sp.t0, sp.wall, sp.spark.intervals)
            if twin and not twin_first:
                rec.untraced_wall = self._untraced(fn)
            rec.ok = bool(check(out))
        except Exception:  # an engine failure is a failed op, not a crash
            traceback.print_exc(file=sys.stderr)
        if walk:
            rec.state_bytes, rec.state_files = written_since(before, self._walk(dir_footprint))
        self.attempted += 1
        self.failed += not rec.ok
        if not rec.ok:
            print(f"FAILED op: {kind}", file=sys.stderr)
        if self.measuring:
            self.ops.append(rec)

    def _untraced(self, fn) -> float:
        self.paused = True
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            self.paused = False
        return time.perf_counter() - t0

    # -- hooks the workloads call ------------------------------------------
    def watch_state(self, path: str) -> None:
        """Register a durable index directory for the write-amplification probes."""
        self.state_dirs.append(path)

    def note_ingest(self, rows: int, paths: list) -> None:
        from probes import dir_footprint

        self.ingest = {
            "rows": rows,
            "bytes": sum(b for p in paths for b, _ in dir_footprint(p).values()),
        }

    def clients(self):
        from vector_search_spark.llm.clients import FakeEmbeddingClient, FakeLLMClient

        llm, emb = FakeLLMClient(), FakeEmbeddingClient()
        if self.spans is None:
            return llm, emb
        return TimedClient(llm, self, "llm"), TimedClient(emb, self, "llm")


class TimedClient:
    """Driver-side span around every LLM/embedding client call. Pickles as
    the bare client, so executor-side calls stay untouched."""

    def __init__(self, inner, ctx: Context, layer: str) -> None:
        self._inner, self._ctx, self._layer = inner, ctx, layer

    def __getattr__(self, name):
        fn = getattr(self._inner, name)

        def call(*a, **kw):
            with self._ctx.layer(self._layer):
                return fn(*a, **kw)

        return call

    def __reduce__(self):
        return self._inner.__reduce__()


@contextmanager
def wrapped_layers(ctx: Context):
    """Wrap the engine's layer entry points (module attributes the
    pipelines and the graph maintainer call through) in spans for a
    traced run; restore them afterwards."""
    import vector_search_spark.pipelines.recommend as rec_mod
    from vector_search_spark.operators.graph_lifecycle import GraphMaintainer

    def wrap(fn, name):
        def call(*a, **kw):
            with ctx.layer(name, walk=name == "compact"):
                return fn(*a, **kw)

        return call

    saved = [
        (rec_mod, "load_table", rec_mod.load_table, "sources"),
        (rec_mod, "audience_count_sql", rec_mod.audience_count_sql, "codegen"),
        (GraphMaintainer, "compact", GraphMaintainer.compact, "compact"),
    ]
    for owner, attr, fn, name in saved:
        setattr(owner, attr, wrap(fn, name))
    try:
        yield
    finally:
        for owner, attr, fn, _ in saved:
            setattr(owner, attr, fn)


# -- statistics -------------------------------------------------------------
def tail(samples: list) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that has at least ten
    samples beyond it; the median when there are fewer than 20 samples."""
    xs = sorted(samples)
    n = len(xs)
    pct = max(50.0, 100.0 * (1 - 10 / n)) if n else 50.0
    if pct == 50.0:
        return pct, statistics.median(xs)
    return pct, xs[min(n - 1, int(pct / 100 * n))]


def drift(samples: list) -> float:
    """Median of the second half over median of the first half; 0 (not
    measured) with fewer than two samples in each half."""
    if len(samples) < 4:
        return 0.0
    h = len(samples) // 2
    return statistics.median(samples[-h:]) / statistics.median(samples[:h])


def per_layer(ctx: Context, wl, res: dict) -> dict:
    """Every per-layer metric; 0 where the workload runs no such op."""
    out: dict = {}
    n_ops = max(len(ctx.ops), 1)
    for kind in OPS:
        recs = [r for r in ctx.ops if r.kind == kind]
        n = len(recs)
        s = lambda f: sum(f(r) for r in recs) / n if n else 0.0  # noqa: E731
        walls = [r.wall for r in recs]
        out.update({
            f"{kind}.p50_s": (statistics.median(walls) if n else 0.0, "s"),
            f"{kind}.jobs_per_op": (s(lambda r: r.jobs.jobs), "count"),
            f"{kind}.stages_per_op": (s(lambda r: r.jobs.stages), "count"),
            f"{kind}.tasks_per_op": (s(lambda r: r.jobs.tasks), "count"),
            f"{kind}.shuffle_bytes_per_op": (s(lambda r: r.jobs.shuffle_bytes), "bytes"),
            f"{kind}.executor_cpu_s_per_op": (s(lambda r: r.jobs.executor_cpu_s), "s"),
            f"{kind}.driver_s_per_op": (s(lambda r: r.driver_s), "s"),
            f"{kind}.drift_ratio": (drift(walls), "ratio"),
        })
    lay = ctx.layers
    ing = lay.get("ingest")
    build = lay.get("index.build")
    comp = lay.get("compact")
    writes = [r for r in ctx.ops if r.rows]
    write_rows = sum(r.rows for r in writes)
    from probes import dir_footprint

    idx_bytes = sum(b for d in ctx.state_dirs for b, _ in dir_footprint(d).values())
    out.update({
        "session.start_s": (res["session_s"], "s"),
        "ingest.rows": (ctx.ingest.get("rows", 0), "count"),
        "ingest.jobs": (ing.jobs.jobs if ing else 0, "count"),
        "ingest.tasks": (ing.jobs.tasks if ing else 0, "count"),
        "ingest.executor_cpu_s": (ing.jobs.executor_cpu_s if ing else 0.0, "s"),
        "ingest.bytes_written": (ctx.ingest.get("bytes", 0), "bytes"),
        "sources.loads_per_op": (lay["sources"].calls / n_ops if "sources" in lay else 0.0, "count"),
        "llm.driver_s_per_op": (lay["llm"].wall / n_ops if "llm" in lay else 0.0, "s"),
        "codegen.s_per_op": (lay["codegen"].wall / n_ops if "codegen" in lay else 0.0, "s"),
        "index.build_s": (build.wall if build else 0.0, "s"),
        "index.build_jobs": (build.jobs.jobs if build else 0, "count"),
        "state.bytes_written_per_row": (
            sum(r.state_bytes for r in writes) / write_rows if write_rows else 0.0, "bytes"),
        "state.files_written_per_op": (
            sum(r.state_files for r in writes) / len(writes) if writes else 0.0, "count"),
        "state.space_amp": (idx_bytes / wl.live_bytes() if idx_bytes else 0.0, "ratio"),
        "compact.count": (comp.calls if comp else 0, "count"),
        "compact.s": (comp.wall if comp else 0.0, "s"),
        "compact.bytes_rewritten": (comp.bytes_written if comp else 0, "bytes"),
        "write.rows_per_s": (
            write_rows / sum(r.wall for r in writes) if writes else 0.0, "1/s"),
        "graph.recall_at_10": (res["quality"].get("graph.recall_at_10", 0.0), "ratio"),
        "dedup.planted_recall": (res["quality"].get("dedup.planted_recall", 0.0), "ratio"),
        "spark.persisted_rdds_end": (res["rdds_end"], "count"),
        "spark.storage_mb_end": (res["storage_mb_end"], "MB"),
        "host.steal_frac": (res["host"]["steal_frac"], "ratio"),
        "host.other_cpu_frac": (res["host"]["other_cpu_frac"], "ratio"),
        "proc.cpu_s_per_op": (res["host"]["own_cpu_s"] / n_ops, "s"),
        "trace.overhead_frac": (trace_overhead(ctx), "ratio"),
    })
    return out


def trace_overhead(ctx: Context) -> float:
    """How much slower the read op is traced than untraced: median traced
    wall over median untraced wall of the same calls, minus one."""
    pairs = [r for r in ctx.ops if r.kind == ctx.read_op and r.untraced_wall]
    return (statistics.median(r.wall for r in pairs)
            / statistics.median(r.untraced_wall for r in pairs) - 1)


# -- main -------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vector_search_spark", "__init__.py")):
        print("perfbench: run from the repository root (vector_search_spark/ not found)",
              file=sys.stderr)
        return 2
    work_root = os.path.join(root, ".perfbench-work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    cpus = pin_environment(root, work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.makedirs(work)
    try:
        return run(WORKLOADS[args.workload](), args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run still holds its directory
            pass


def run(wl, args, work: str, cpus: int) -> int:
    import numpy as np

    from probes import HostSampler, SparkSpans
    from vector_search_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    ctx = Context(spark, work, args.seed, wl.read_op, SparkSpans(spark) if args.trace else None)
    rounds = max(1, round(args.seconds / wl.nominal_round_s))
    if args.trace:  # not timed against a bound; drift needs two samples per half
        rounds = max(rounds, TRACE_ROUNDS)
    res: dict = {"session_s": session_s}
    try:
        with wrapped_layers(ctx) if args.trace else nullcontext():
            rows, build_s = wl.setup(ctx)
            warm = np.random.default_rng([args.seed, 100])
            for _ in range(wl.warmup_rounds):
                wl.round(ctx, warm)
            setup_s = time.perf_counter() - T_START
            wl.reset_quality()
            # per-op layers count the measured phase only; builds stay
            ctx.layers = {k: v for k, v in ctx.layers.items() if k in ("ingest", "index.build")}
            ctx.measuring = True
            host = HostSampler()
            rng = np.random.default_rng([args.seed, 200])
            round_walls = []
            for _ in range(rounds):
                t = time.perf_counter()
                wl.round(ctx, rng)
                round_walls.append(time.perf_counter() - t)
            res["host"] = host.read()
            res["quality"] = wl.quality()
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            res["rdds_end"] = len(infos)
            res["storage_mb_end"] = sum(i.memSize() for i in infos) / 2**20
        wl.close()
    finally:
        stop_spark(spark)

    reads = [r.wall for r in ctx.ops if r.kind == wl.read_op]
    e2e = {
        "setup_s": (setup_s, "s"),
        "build.rows_per_s": (rows / build_s, "1/s"),
        "read.p50_s": (statistics.median(reads), "s"),
        "round.p50_s": (statistics.median(round_walls), "s"),
        "quality": (min(res["quality"].values()), "ratio"),
    }
    h = res["host"]
    print(f"workload {wl.name}  seed {args.seed}  rounds {rounds} (+{wl.warmup_rounds} warm-up)  "
          f"trace {args.trace}")
    print(f"spark local[{cpus}] via SPARK_GRAFT_CPUS (nproc {os.cpu_count()}), driver BLAS/OMP "
          f"threads 1, durable state under {os.path.relpath(work)} (removed at exit)")
    print(f"host during measurement: steal {h['steal_frac']:.3f}  other processes "
          f"{h['other_cpu_frac']:.3f} of host CPU  benchmark tree {h['own_cpu_s']:.1f} cpu-s")
    for kind in OPS:
        walls = [r.wall for r in ctx.ops if r.kind == kind]
        if walls:
            pct, val = tail(walls)
            dr = f"{drift(walls):.3f}" if len(walls) >= 4 else "-"
            print(f"  {kind:<10} n={len(walls):<3} p50 {statistics.median(walls):.3f} s  "
                  f"p{pct:.0f} {val:.3f} s  drift {dr}")
    print(f"spark at end: {res['rdds_end']} persisted RDDs, {res['storage_mb_end']:.1f} MB storage")
    parts = "  ".join(f"{k} {v:.4f}" for k, v in res["quality"].items())
    print(f"ops attempted {ctx.attempted} (incl. warm-up), failed {ctx.failed}; quality: {parts}")
    metrics = per_layer(ctx, wl, res) if args.trace else e2e
    for name, (val, unit) in metrics.items():
        print(f"  {name} = {val:.6g} {unit}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
