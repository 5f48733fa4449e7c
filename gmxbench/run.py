"""gmx benchmark: one command, two workloads (ingest, serve) and a curate probe.

    python3 gmxbench/run.py --workload ingest --seed 1 --seconds 4 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed`` into
``.gmxbench-cache/`` (excluded from every metric), one Spark driver runs on
``local[min(3, nproc // 2)]``, a closed loop makes one pass of the workload's
calls after another, and each pass's outputs are checked against the DuckDB
oracle outside the timed region.  The last stdout line is the JSON result.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` first repeats
the untraced measurement, then restarts the session with Spark's event log
on and a ``gmx:<op>`` job description around every call, and reports the
per-layer metrics; a traced ingest run also appends the curate probe.  See
``gmxbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".gmxbench-cache")
KEEP_SEEDS = 3           # per-seed input directories kept per workload
SETUP_REPS = 3           # prepare steps timed into setup_s (median)
WARMUP_MIN, WARMUP_MAX = 2, 3
WARMUP_TOLERANCE = 0.10  # a pass within 10% of the one before has stopped falling
PROBE_PASSES = 2         # curate passes in a traced ingest run (the last is reported)


class Tracer:
    """Spans around every call into gmx, kept in memory.  When on, each
    span also sets the Spark job description to its name, so the event log
    attributes every job to an operation."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.phase = "setup"
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        self.sc.setJobDescription(name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "phase": self.phase, "start": start, "end": time.time()})
            self.sc.setJobDescription(None)

    def durations(self, name: str, phase: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["phase"] == phase]


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: tiny inputs, and one falsified expected value
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--corrupt", default=None, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _cpus() -> int:
    # an Arrow-stage task runs a JVM thread and a Python worker at once: one
    # task slot per two CPUs keeps the runnable threads within the CPUs (at
    # nproc - 1 slots, runs on a 4-CPU host differed by 20-26% in CPU time)
    return max(1, min(3, (os.cpu_count() or 2) // 2))


def _environment(work: str) -> None:
    """Everything Spark and its Python workers write stays under ``work``."""

    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # the generated corpora are tens of MB of parquet: 2m splits give every
    # task slot several scan tasks instead of one uneven wave
    os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"] = "2m"
    # the parallel collector: under G1 the heap's resident high-water mark
    # (and so peak_rss_mb) moved by up to 15% between runs of one seed;
    # under the parallel collector it held within 1%, at less CPU per pass
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+UseParallelGC"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "pyspark-shell",
    ])


def _start_session(event_log: str | None):
    from gmx.session import get_spark
    from pyspark import SparkContext

    if event_log is not None and SparkContext._jvm is not None:
        # the JVM outlives a stopped context; a new context reads spark.*
        # system properties into its conf
        system = SparkContext._jvm.java.lang.System
        os.makedirs(event_log, exist_ok=True)
        for k, v in (("spark.eventLog.enabled", "true"), ("spark.eventLog.dir", event_log),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            system.setProperty(k, v)
    spark = get_spark("gmxbench", cpus=_cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for every process
    this run started to end."""

    from pyspark import SparkContext

    import procstat

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while len(procstat.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree_pids()[1:]:
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


# ------------------------------------------------------------------ inputs

def input_dir(workload_cls, seed: int, sizes, cache: str = CACHE) -> str:
    """Where the seed's inputs live: keyed by workload, seed, input sizes
    and the generator's sources, so no other configuration reuses them."""

    import dataclasses
    import hashlib

    from inputs import source_tag

    key = f"{source_tag()}{dataclasses.astuple(sizes)}"
    tag = hashlib.sha1(key.encode()).hexdigest()[:10]
    return os.path.join(cache, f"{workload_cls.name}-{seed}-{tag}")


def prepare_inputs(workload_cls, seed: int, sizes, cache: str = CACHE) -> str:
    """The seed's input directory, generated unless already cached."""

    import inputs

    os.makedirs(cache, exist_ok=True)
    prefix = f"{workload_cls.name}-"
    data = input_dir(workload_cls, seed, sizes, cache)
    if os.path.exists(os.path.join(data, "DONE")):
        os.utime(data)
        return data
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    pool = None
    if workload_cls.name in ("ingest", "curate"):
        pool = inputs.pool_path(cache, sizes.pool_docs, workers=_cpus())
    workload_cls(seed, sizes, data, data).generate(pool)
    open(os.path.join(data, "DONE"), "w").close()
    old = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache) if d.startswith(prefix)),
        key=os.path.getmtime,
    )
    for d in old[:-KEEP_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)
    return data


# ------------------------------------------------------------- measurement

class Measured:
    """One session's set-up, warm-up and measured window."""

    def __init__(self) -> None:
        self.session_s = 0.0
        self.prepare_s: list[float] = []
        self.warmup_s: list[float] = []
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.steal = 0
        self.ticks = 0
        self.ok = 0
        self.attempted = 0
        self.failed_ops: list[str] = []
        self.outputs: list[dict] = []
        self.pass_peak_mb: list[float] = []

    def record(self, checked: dict[str, bool]) -> None:
        self.ok += sum(checked.values())
        self.attempted += len(checked)
        self.failed_ops += [op for op, good in checked.items() if not good]

    @property
    def setup_s(self) -> float:
        return self.session_s + (statistics.median(self.prepare_s) if self.prepare_s else 0.0)

    @property
    def steal_share(self) -> float:
        return self.steal / self.ticks if self.ticks else 0.0


def _timed_pass(wl, spark, tracer):
    import procstat

    st0, tk0 = procstat.host_cpu_ticks()
    cpu0 = procstat.tree_cpu_s()
    t0 = time.perf_counter()
    out = wl.run_pass(spark, tracer)
    wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_s() - cpu0
    st1, tk1 = procstat.host_cpu_ticks()
    return out, wall, cpu, st1 - st0, tk1 - tk0


def measure(wl, spark, tracer, seconds: float, m: Measured, setup_reps: int, pss=None,
            warmup=(WARMUP_MIN, WARMUP_MAX)) -> Measured:
    tracer.phase = "prepare"
    for _ in range(setup_reps):
        t0 = time.perf_counter()
        wl.prepare(spark, tracer)
        m.prepare_s.append(time.perf_counter() - t0)

    # warm up until the per-pass time stops falling
    tracer.phase = "warmup"
    least, most = warmup
    while len(m.warmup_s) < most:
        out, wall, *_ = _timed_pass(wl, spark, tracer)
        m.record(wl.check(out))
        m.warmup_s.append(wall)
        done = len(m.warmup_s) < 2 or wall >= m.warmup_s[-2] * (1 - WARMUP_TOLERANCE)
        if len(m.warmup_s) >= least and done:
            break

    tracer.phase = "window"
    while not m.pass_s or sum(m.pass_s) < seconds:
        if pss is not None:
            pss.reset()
        out, wall, cpu, steal, ticks = _timed_pass(wl, spark, tracer)
        if pss is not None:
            m.pass_peak_mb.append(pss.sample())
        m.pass_s.append(wall)
        m.pass_cpu_s.append(cpu)
        m.steal += steal
        m.ticks += ticks
        m.outputs.append(out)
        m.record(wl.check(out))
    if pss is not None:
        pss.stop()
    return m


def end_to_end(wl, m: Measured) -> dict:
    docs = wl.docs_per_pass
    return {
        "setup_s": (m.setup_s, "s"),
        "docs_per_s": (docs / statistics.median(m.pass_s), "docs/s"),
        "cpu_s_per_kdoc": (statistics.median(m.pass_cpu_s) / (docs / 1000.0), "s"),
        "peak_rss_mb": (statistics.median(m.pass_peak_mb), "MB"),
        "ok_ratio": (m.ok / m.attempted, "ratio"),
    }


def run(workload: str, seed: int, seconds: float, trace: int, sizes=None,
        corrupt: str | None = None) -> dict:
    """Run one workload and return the result object (the self-test calls
    this directly; ``corrupt`` names an expected value to falsify)."""

    import inputs
    import procstat
    from workloads import WORKLOADS

    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
    sizes = sizes or inputs.Sizes()
    cls = WORKLOADS[workload]
    data = prepare_inputs(cls, seed, sizes)

    work = os.path.join(ROOT, ".gmxbench-work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    wl = cls(seed, sizes, data, work)
    spark = None
    detail: dict = {"workload": workload, "seed": seed, "cpus": _cpus()}
    try:
        t0 = time.perf_counter()
        spark = _start_session(None)
        m = Measured()
        m.session_s = time.perf_counter() - t0
        wl.load(spark)
        if corrupt:
            wl.corrupt(corrupt)
        measure(wl, spark, Tracer(), seconds, m, SETUP_REPS, procstat.PeakPss().start())
        detail.update(_detail(m))
        if not trace:
            metrics = end_to_end(wl, m)
            ok, attempted = m.ok, m.attempted
        else:
            spark.stop()
            spark = None
            metrics, ok, attempted = traced(wl, seconds, m, work, detail)
    finally:
        wl.close()
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"detail": detail}), flush=True)
    return {
        "correct": ok == attempted,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _detail(m: Measured) -> dict:
    return {
        "session_s": round(m.session_s, 3),
        "prepare_s": [round(v, 3) for v in m.prepare_s],
        "warmup_passes": len(m.warmup_s),
        "warmup_s": [round(v, 3) for v in m.warmup_s],
        "pass_s": [round(v, 3) for v in m.pass_s],
        "pass_cpu_s": [round(v, 3) for v in m.pass_cpu_s],
        "host.steal_share": round(m.steal_share, 5),
        "pass_peak_rss_mb": [round(v, 1) for v in m.pass_peak_mb],
        "failed_ops": sorted(set(m.failed_ops)),
    }


def traced(wl, seconds: float, untraced: Measured, work: str, detail: dict):
    """Second session with the event log on; returns the per-layer metrics."""

    import layers

    log_dir = os.path.join(work, "eventlog")
    spark = _start_session(log_dir)
    try:
        tracer = Tracer(spark.sparkContext)
        wl.load(spark)
        # as many warm-up passes as the untraced session made, so the two
        # windows are compared after the same number of passes
        n = len(untraced.warmup_s)
        m = measure(wl, spark, tracer, seconds, Measured(), 1, warmup=(n, n))
        extra = wl.trace_extra(spark, tracer)
        if wl.name == "ingest":
            curate_probe(wl, spark, tracer, m)
    finally:
        spark.stop()
    detail["traced"] = _detail(m)
    metrics = layers.per_layer(wl, m, untraced, tracer, log_dir, extra)
    with open(os.path.join(ROOT, ".gmxbench-cache", f"spans-{wl.name}.json"), "w") as fh:
        json.dump(tracer.spans, fh)
    return metrics, untraced.ok + m.ok, untraced.attempted + m.attempted


def curate_probe(ingest, spark, tracer, m: Measured) -> None:
    """Curate passes after a traced ingest window, so the update and textops
    layers are measured although curate is not a gated workload (its runs do
    not fit the benchmark's time budget; see README.md)."""

    from workloads import Curate

    data = prepare_inputs(Curate, ingest.seed, ingest.sizes)
    probe = Curate(ingest.seed, ingest.sizes, data, ingest.work)
    try:
        probe.load(spark)
        tracer.phase = "probe-prepare"
        probe.prepare(spark, tracer)
        for i in range(PROBE_PASSES):
            tracer.phase = "probe" if i == PROBE_PASSES - 1 else "probe-warmup"
            m.record(probe.check(probe.run_pass(spark, tracer)))
    finally:
        probe.close()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gmx", "__init__.py")):
        print(f"gmxbench: no gmx package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    try:
        import inputs

        sizes = inputs.TINY if args.tiny else inputs.Sizes()
        result = run(args.workload, args.seed, args.seconds, args.trace, sizes, args.corrupt)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
