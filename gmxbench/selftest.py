"""Self-test of the benchmark at a tiny input size.

    python3 gmxbench/selftest.py

Checks three things and exits non-zero if any fails:

1. the same seed gives byte-identical input files (and another seed does
   not), for every workload and the curate probe, and inputs of another
   size never share a directory with them;
2. a falsified expected value drives ``ok_ratio`` below 1 and ``correct``
   to false;
3. every metric BENCHMARK.json names is printed, with its unit, on every
   workload it lists (``--trace 0`` and ``--trace 1``).

It takes about ten minutes on a 4-CPU host: each check runs the real
command end to end.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _digest_tree(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_inputs_deterministic() -> list[str]:
    import inputs
    import run
    from workloads import WORKLOADS, Curate

    errors = []
    base = os.path.join(ROOT, ".gmxbench-work", "selftest-inputs")
    shutil.rmtree(base, ignore_errors=True)
    try:
        for cls in (*WORKLOADS.values(), Curate):
            name = cls.name
            if run.input_dir(cls, 5, inputs.TINY) == run.input_dir(cls, 5, inputs.Sizes()):
                errors.append(f"{name}: tiny and full-size inputs share a directory")
            trees = []
            for label, seed in (("a", 11), ("b", 11), ("c", 12)):
                data = run.prepare_inputs(cls, seed, inputs.TINY, cache=os.path.join(base, label))
                trees.append(_digest_tree(data))
            if trees[0] != trees[1]:
                errors.append(f"{name}: the same seed gave different input files")
            if trees[0] == trees[2]:
                errors.append(f"{name}: two seeds gave identical input files")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return errors


def _run(workload: str, trace: int, corrupt: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(spec: dict) -> list[str]:
    errors = []
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result = _run(wl["name"], trace)
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{wl['name']} trace={trace}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                errors.append(f"{wl['name']} trace={trace}: outputs did not match the oracle")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                errors.append(f"{wl['name']} trace={trace}: metrics {got} != {want}")
            if not all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
                errors.append(f"{wl['name']} trace={trace}: a metric value is not a number")
    return errors


def check_corruption_detected() -> list[str]:
    errors = []
    for workload, what in (("ingest", "extents_rows"), ("serve", "knn")):
        result = _run(workload, 0, corrupt=what)
        if result["correct"] or result["metrics"]["ok_ratio"]["value"] >= 1:
            errors.append(f"{workload}: a falsified expected {what} was not detected")
    return errors


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for check in (check_inputs_deterministic, check_corruption_detected,
                  lambda: check_metrics(spec)):
        errors += check()
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
