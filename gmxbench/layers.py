"""Per-layer metrics of a traced run.

Times of single calls are medians of the benchmark's spans over the traced
window, over serve's prepare step (the index writes), or over the curate
probe of a traced ingest run (update and textops).
Event-log sums are per call or per window pass.  A layer the run does not
call reports 0.
"""

from __future__ import annotations

import os
import shutil
import statistics

import eventlog

# name -> (unit, better)
PER_LAYER = {
    "pipeline.extract_s": ("s", "lower"),
    "pipeline.python_worker_s": ("s", "lower"),
    "pipeline.arrow_mb": ("MB", "lower"),
    "extract.worker_ms_per_doc": ("ms", "lower"),
    "geometry.extents.rows_per_doc": ("ratio", "lower"),
    "geometry.bucketed.write_cell_index_s": ("s", "lower"),
    "geometry.bucketed.write_centroid_index_s": ("s", "lower"),
    "geometry.bucketed.index_rows_per_doc": ("ratio", "lower"),
    "geometry.bucketed.write_shuffle_mb": ("MB", "lower"),
    "geometry.bucketed.overlap_s": ("s", "lower"),
    "geometry.bucketed.pip_s": ("s", "lower"),
    "geometry.bucketed.knn_s": ("s", "lower"),
    "geometry.bucketed.tile_s": ("s", "lower"),
    "geometry.bucketed.overlap_rows": ("count", "higher"),
    "geometry.bucketed.pip_rows": ("count", "higher"),
    "geometry.bucketed.knn_rows": ("count", "higher"),
    "geometry.bucketed.tile_rows": ("count", "higher"),
    "geometry.bucketed.index_side_exchanges": ("count", "lower"),
    "geometry.joins.knn_jobs": ("count", "lower"),
    "geometry.joins.knn_candidates_per_result": ("ratio", "lower"),
    "geometry.joins.large_tier_rows": ("count", "lower"),
    "update.update_s": ("s", "lower"),
    "update.python_worker_s": ("s", "lower"),
    "textops.minhash_s": ("s", "lower"),
    "textops.dup_clusters_s": ("s", "lower"),
    "textops.decontaminate_s": ("s", "lower"),
    "textops.cosine_s": ("s", "lower"),
    "textops.dup_clusters_jobs": ("count", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.shuffle_mb": ("MB", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.jobs": ("count", "lower"),
    "bench.warmup_passes": ("count", "lower"),
    "host.steal_share": ("ratio", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}

MB = 1e6
INDEX_TABLES = ("bench_ingest_cell", "bench_ingest_cent", "bench_serve_cell", "bench_serve_cent")


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _attribute(log: eventlog.EventLog, spans: list[dict]) -> dict[tuple[str, str], list]:
    """(op, phase) -> the jobs submitted inside a span of that op."""

    out: dict[tuple[str, str], list] = {}
    for job in log.jobs:
        t = job.submit_ms / 1000.0
        for s in spans:
            if s["name"] == job.desc and s["start"] - 0.01 <= t <= s["end"] + 0.01:
                out.setdefault((s["name"], s["phase"]), []).append(job)
                break
    return out


def per_layer(wl, m, untraced, tracer, log_dir: str, extra: dict) -> dict:
    log_path = eventlog.find_log(log_dir)
    log = eventlog.parse(log_path)
    keep = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".gmxbench-cache", f"eventlog-{wl.name}.json")
    shutil.copyfile(log_path, keep)

    by_op = _attribute(log, tracer.spans)
    passes = len(m.pass_s)
    docs = wl.docs_per_pass
    values = {name: 0.0 for name in PER_LAYER}

    def jobs(op: str, phase: str = "window") -> list:
        return by_op.get((f"gmx:{op}", phase), [])

    def span_s(op: str, phase: str = "window") -> float:
        return _median(tracer.durations(f"gmx:{op}", phase))

    def calls(op: str, phase: str = "window") -> int:
        return len(tracer.durations(f"gmx:{op}", phase))

    def acc(js: list, name: str) -> int:
        return sum(j.acc.get(name, 0) for j in js)

    # extraction: ingest's window
    n_ext = calls("extract")
    if n_ext:
        ej = jobs("extract")
        worker_s = acc(ej, eventlog.PY_TIME) / 1e3 / n_ext
        values["pipeline.extract_s"] = span_s("extract")
        values["pipeline.python_worker_s"] = worker_s
        values["pipeline.arrow_mb"] = (acc(ej, eventlog.PY_SENT) + acc(ej, eventlog.PY_RECV)) / MB / n_ext
        values["extract.worker_ms_per_doc"] = worker_s * 1000.0 / docs

    # index writes: ingest's window, or serve's prepare step
    wr_phase = "window" if calls("write_cell_index") else "prepare"
    n_wr = calls("write_cell_index", wr_phase)
    if n_wr:
        values["geometry.bucketed.write_cell_index_s"] = span_s("write_cell_index", wr_phase)
        values["geometry.bucketed.write_centroid_index_s"] = span_s("write_centroid_index", wr_phase)
        wj = jobs("write_cell_index", wr_phase) + jobs("write_centroid_index", wr_phase)
        values["geometry.bucketed.write_shuffle_mb"] = sum(j.shuffle_write_bytes for j in wj) / MB / n_wr

    # serving reads
    for op in ("overlap", "pip", "knn", "tile"):
        if calls(op):
            values[f"geometry.bucketed.{op}_s"] = span_s(op)
            values[f"geometry.bucketed.{op}_rows"] = m.outputs[-1][op][0]
    if calls("knn"):
        kj = jobs("knn")
        values["geometry.joins.knn_jobs"] = len(kj) / calls("knn")
        plans = [log.plans[e] for e in {j.exec_id for j in kj} if e in log.plans]
        results = sum(out["knn"][0] for out in m.outputs)
        values["geometry.joins.knn_candidates_per_result"] = (
            eventlog.knn_candidate_rows(plans, log.accum) / results if results else 0.0
        )
    read_jobs = [j for op in ("overlap", "pip", "knn", "tile") for j in jobs(op)]
    values["geometry.bucketed.index_side_exchanges"] = sum(
        eventlog.index_side_exchanges(log.plans[e], INDEX_TABLES)
        for e in {j.exec_id for j in read_jobs} if e in log.plans
    ) / passes

    # curation: the curate probe of a traced ingest run
    cur = "probe"
    if calls("update", cur):
        values["update.update_s"] = span_s("update", cur)
        values["update.python_worker_s"] = (
            acc(jobs("update", cur), eventlog.PY_TIME) / 1e3 / calls("update", cur)
        )
    for op in ("minhash", "dup_clusters", "decontaminate", "cosine"):
        if calls(op, cur):
            values[f"textops.{op}_s"] = span_s(op, cur)
    if calls("dup_clusters", cur):
        values["textops.dup_clusters_jobs"] = (
            len(jobs("dup_clusters", cur)) / calls("dup_clusters", cur)
        )

    # the Spark runtime over the window's gmx jobs
    wjobs = [j for (op, phase), js in by_op.items() if phase == "window" for j in js]
    values["spark.executor_cpu_s"] = sum(j.cpu_ns for j in wjobs) / 1e9 / passes
    values["spark.gc_s"] = sum(j.gc_ms for j in wjobs) / 1000.0 / passes
    values["spark.spill_mb"] = sum(j.spill_bytes for j in wjobs) / MB / passes
    values["spark.shuffle_mb"] = sum(j.shuffle_write_bytes for j in wjobs) / MB / passes
    values["spark.task_skew"] = eventlog.task_skew(wjobs)
    values["spark.jobs"] = len(wjobs) / passes
    values["bench.warmup_passes"] = len(untraced.warmup_s)
    values["host.steal_share"] = m.steal_share
    values["trace.overhead_ratio"] = _median(m.pass_s) / _median(untraced.pass_s)
    values.update(extra)
    return {name: (values[name], PER_LAYER[name][0]) for name in PER_LAYER}
