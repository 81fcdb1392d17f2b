"""Closed-loop benchmark of schematic_spark on ``local[nproc]``.

One driver thread issues back-to-back, output-checked calls into the
library's public functions. Run from the root of a checkout::

    python3 perfbench/run.py --workload validate_suite --seed 1 \\
        --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same calls with Spark's event log on and prints the per-layer ledger.
The last line of standard output is one JSON object; a wrong result
makes the exit code 1. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from statistics import median  # noqa: E402

import ledger  # noqa: E402
from host import ProcSampler, cpu_times, sha256_probe  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(1, ROOT)  # the library under test, from this checkout

DRIVER_MEMORY = "3g"
MIN_ITERATIONS = 4  # timed iterations per run, however long they take

# The first call in a fresh JVM (codegen, JIT, Python worker spawn) is
# one sample per run and does not repeat within the bounds, so it is
# reported by the traced run as session.first_call_s instead.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}

# timed call -> the per-layer wall-time metric it feeds
CALL_METRICS = {
    "summary": "validation.summary_s",
    "column_stats": "suite.column_stats_s",
    "uniqueness": "suite.uniqueness_s",
    "referential": "suite.referential_s",
    "drift": "suite.drift_s",
    "span_order": "generator.span_order_s",
    "fused": "suite.fused_s",
    "checkpoint_run": "checkpoint.run_s",
    "checkpoint_resume": "checkpoint.resume_s",
    "checkpoint_passfail": "checkpoint.passfail_s",
    "minhash": "dedup.minhash_s",
    "simhash": "dedup.simhash_s",
    "contamination": "dedup.contamination_s",
    "exact": "dedup.exact_s",
    "shared_passages": "text.shared_passages_s",
    "signals": "text.signals_s",
    "features": "media.features_s",
    "resize": "media.resize_s",
}
ALL_CALLS = ["validate", *CALL_METRICS]
CALL_LEDGER = {"exec_cpu_s": "s", "shuffle_write_mb": "MB", "driver_s": "s"}

PER_LAYER = {
    "session.first_call_s": "s",
    "validation.build_s": "s",
    **{m: "s" for m in CALL_METRICS.values()},
    "checkpoint.jobs": "count",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_per_doc": "B/doc",
    "dedup.minhash_candidates": "count",
    "dedup.minhash_yield": "ratio",
    "layout.scan_tasks": "count",
    "media.python_workers": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "spark.jobs": "count",
    "spark.driver_s": "s",
    **{f"call.{c}.{k}": u for c in ALL_CALLS for k, u in CALL_LEDGER.items()},
    "trace.overhead_s": "s",
    "trace.call_coverage": "ratio",
    "host.sha256_s": "s",
    "failed_share": "ratio",
}


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and put the
    library on the Python workers' path."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    paths = [ROOT] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def build_session(cores: int, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed heap, touched at start: how much of it the collector
        # happened to touch would otherwise move peak_rss_mb by 10 %
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={WORK}/tmp")
        .config("spark.local.dir", f"{WORK}/local")
        .config("spark.sql.warehouse.dir", f"{WORK}/warehouse")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_dir is not None).lower())
        .config("spark.eventLog.compress", "false")
    )
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        b = b.config("spark.eventLog.dir", f"file://{event_dir}")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM (and with it the Python workers) and wait
    for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - never leave the JVM behind
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class Iteration:
    wall: float                 # whole iteration, output checks included
    calls: list                 # ledger.Call per timed call
    outputs: dict
    facts: dict = field(default_factory=dict)


class Runner:
    def __init__(self, workload, cores: int):
        self.wl = workload
        self.cores = cores
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []

    def start(self, event_dir: str | None = None) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(self.cores, event_dir)
        self.wl.open(self.spark)

    def iteration(self, traced: bool, tag: bool = False) -> Iteration:
        t_enter = time.time()
        sc = self.spark.sparkContext
        done = []
        for c in self.wl.calls(traced):
            if tag:
                sc.setJobDescription(f"bench:{self.wl.name}:{c.name}")
            t0 = time.time()
            try:
                out, err = c.fn(), None
            except Exception as ex:  # noqa: BLE001 - a failed call is counted
                out, err = None, f"{type(ex).__name__}: {ex}"
            t1 = time.time()
            if tag:
                sc.setJobDescription(None)
            done.append((c, ledger.Call(c.name, t0, t1), out, err))
        for c, _, out, err in done:
            if err is None:
                try:
                    err = c.check(out)
                except Exception as ex:  # noqa: BLE001
                    err = f"check raised {type(ex).__name__}: {ex}"
            if err:
                self.failures.append(f"{self.wl.name}:{c.name}: {err}")
        self.attempted += len(done)
        facts = self.wl.after_iteration()
        return Iteration(time.time() - t_enter, [s for _, s, _, _ in done],
                         {c.name: out for c, _, out, _ in done}, facts)

    def warm_up(self) -> list[Iteration]:
        """Untraced iterations after the cold one, so that every call has
        run ``warmup_runs`` times before it is timed (each iteration runs
        each of its calls once)."""
        return [self.iteration(traced=False)
                for _ in range(self.wl.warmup_runs - 1)]

    def loop(self, seconds: float, traced: bool, tag: bool = False,
             min_iterations: int = 1) -> list[Iteration]:
        out, t0 = [], time.time()
        while time.time() - t0 < seconds or len(out) < min_iterations:
            out.append(self.iteration(traced, tag))
        return out


class BuildTimer:
    """Times ``validate()`` wherever the library calls it, by wrapping
    the function in every loaded ``schematic_spark`` module that holds
    it (traced runs only)."""

    def __init__(self):
        self.spans: list[tuple[float, float]] = []
        self._patched: list[tuple[object, object]] = []

    def install(self) -> None:
        from schematic_spark import validation

        orig = validation.validate

        def timed(*a, **kw):
            t0 = time.time()
            try:
                return orig(*a, **kw)
            finally:
                self.spans.append((t0, time.time()))

        for name, mod in list(sys.modules.items()):
            if name.startswith("schematic_spark") and \
                    getattr(mod, "validate", None) is orig:
                mod.validate = timed
                self._patched.append((mod, orig))

    def uninstall(self) -> None:
        for mod, orig in self._patched:
            mod.validate = orig
        self._patched.clear()

    def within(self, start: float, end: float) -> float:
        return sum(e - s for s, e in self.spans if start <= s <= end)


def _wall(iterations: list[Iteration], calls=None) -> float:
    """The median iteration, built call by call: the sum over the
    iteration's calls (or those named in ``calls``) of each call's
    median time. A stall in one call of one iteration does not move it."""
    times: dict[str, list[float]] = {}
    for it in iterations:
        for c in it.calls:
            if calls is None or c.name in calls:
                times.setdefault(c.name, []).append(c.end - c.start)
    return sum(median(v) for v in times.values())


def untraced_run(r: Runner, seconds: float,
                 setup_s: float) -> tuple[dict, dict]:
    from pyspark import SparkContext

    sampler = ProcSampler(SparkContext._gateway.proc.pid).start()
    cold = r.iteration(traced=False)
    warm = r.warm_up()
    timed = r.loop(seconds, traced=False, min_iterations=MIN_ITERATIONS)
    r.spark.stop()
    sampler.stop()
    wall = _wall(timed)
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": r.wl.n_docs / wall,
        "peak_rss_mb": sampler.peak_rss_kb / 1024,
    }
    detail = {"first_call_s": cold.calls[0].end - cold.calls[0].start,
              "cold_iteration_s": cold.wall,
              "warmup_s": [it.wall for it in warm],
              "iterations_s": [it.wall for it in timed],
              "calls_s": [{c.name: c.end - c.start for c in it.calls}
                          for it in timed]}
    return metrics, detail


def traced_run(r: Runner, seconds: float) -> tuple[dict, dict]:
    """An untraced phase of the untraced run's calls, then a traced phase
    (at least two iterations), half of ``seconds`` each, in one JVM. The
    ledger comes from the traced phase; ``trace.overhead_s`` compares the
    calls the two phases share."""
    from pyspark import SparkContext

    sampler = ProcSampler(SparkContext._gateway.proc.pid).start()
    cold = r.iteration(traced=False)
    r.warm_up()
    untraced = r.loop(seconds / 2, traced=False)

    event_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    shutil.rmtree(event_dir, ignore_errors=True)
    r.start(event_dir)
    builds = BuildTimer()
    builds.install()
    try:
        # warm-up: the traced-only calls run cold, and the restart
        # brings new Python workers
        r.iteration(traced=True, tag=True)
        traced = r.loop(seconds / 2, traced=True, tag=True, min_iterations=2)
        extra = r.wl.extra_counts(r.spark)
    finally:
        builds.uninstall()
    r.spark.stop()
    sampler.stop()

    jobs, stages = ledger.read_log(event_dir)
    ledger.attribute(jobs, [c for it in traced for c in it.calls])
    shutil.rmtree(event_dir, ignore_errors=True)

    per_iter = [_iteration_ledger(it, stages, builds) for it in traced]
    metrics = {k: 0.0 for k in PER_LAYER}
    for k in per_iter[0]:
        metrics[k] = median(row[k] for row in per_iter)
    cands = extra.get("minhash_candidates", 0)
    metrics["dedup.minhash_candidates"] = cands
    if cands:
        metrics["dedup.minhash_yield"] = median(
            sum(row["n_pairs"] for row in it.outputs["minhash"]) / cands
            for it in traced)
    metrics["media.python_workers"] = sampler.max_workers
    metrics["session.first_call_s"] = cold.calls[0].end - cold.calls[0].start
    shared = {c.name for c in untraced[0].calls}
    metrics["trace.overhead_s"] = _wall(traced, shared) - _wall(untraced)
    detail = {"traced_iterations_s": [it.wall for it in traced],
              "untraced_iterations_s": [it.wall for it in untraced],
              "calls": [{c.name: round(c.end - c.start, 4)
                         for c in it.calls} for it in traced]}
    return metrics, detail


def _iteration_ledger(it: Iteration, stages: dict,
                      builds: BuildTimer) -> dict:
    rows = {c.name: ledger.call_costs(c, stages) for c in it.calls}
    start, end = it.calls[0].start, it.calls[-1].end
    out = {
        "validation.build_s": builds.within(start, end),
        "trace.call_coverage": sum(r["wall_s"] for r in rows.values())
        / it.wall,
    }
    for name, row in rows.items():
        if name in CALL_METRICS:
            out[CALL_METRICS[name]] = row["wall_s"]
        for k in CALL_LEDGER:
            out[f"call.{name}.{k}"] = row[k]
    for k in ("exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_mb",
              "spill_mb", "tasks", "jobs", "driver_s"):
        out[f"spark.{k}"] = sum(r[k] for r in rows.values())
    scans = [r["first_stage_tasks"] for r in rows.values() if r["jobs"]]
    out["layout.scan_tasks"] = sum(scans) / len(scans) if scans else 0.0
    ckpt = [r for name, r in rows.items() if name.startswith("checkpoint_")]
    if ckpt:
        out["checkpoint.jobs"] = sum(r["jobs"] for r in ckpt)
        out["checkpoint.files_written"] = it.facts["files_written"]
        out["checkpoint.bytes_per_doc"] = it.facts["bytes_per_doc"]
    return out


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import schematic_spark  # noqa: F401 - no library, no result

    _prepare_environment()
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](cores)

    t0 = time.time()
    ticks0 = cpu_times()
    probes = [sha256_probe(), sha256_probe()]
    wl.prepare(WORK, args.seed)
    prepare_s = time.time() - t0

    r = Runner(wl, cores)
    try:
        r.start()
        # set-up: process start -> session ready and inputs open, less
        # input preparation (cached per seed and size) and the probes.
        # One cold sample per run: a restart in a warm JVM would not see
        # JVM start, gateway launch or library import.
        setup_s = time.time() - T_START - prepare_s
        if args.trace:
            metrics, detail = traced_run(r, args.seconds)
        else:
            metrics, detail = untraced_run(r, args.seconds, setup_s)
    finally:
        stop_jvm()
        shutil.rmtree(getattr(wl, "ckpt_dir", ""), ignore_errors=True)
    probes += [sha256_probe(), sha256_probe()]
    steal, total = (b - a for a, b in zip(ticks0, cpu_times()))

    failed = len(r.failures)
    if args.trace:
        metrics["host.sha256_s"] = median(probes)
        metrics["failed_share"] = failed / r.attempted
    units = PER_LAYER if args.trace else END_TO_END
    print("perfbench detail: " + json.dumps({
        "workload": wl.name, "seed": args.seed, "cores": cores,
        "n_docs": wl.n_docs, "prepare_s": prepare_s,
        "host_sha256_s": probes, "host_steal_share": steal / total,
        "failures": r.failures[:5], **detail,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": r.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
