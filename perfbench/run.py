#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --check      # the benchmark's own tests

Run from the root of a checkout. Builds the engine and the benchmark from
source (perfbench/build.py), runs one JVM with perfbench.Main, checks the
outputs (digests across cycles, lake loads against a recomputation, and
the first timed cycle's digests against the outputs the build checked
against the DuckDB oracle), and prints as its last
stdout line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it is the run summary. Exits non-zero when an output is wrong.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_batch", "stream_drain")
UNITS = {"setup_s": "s", "cycle_s": "s", "job_geomean_s": "s", "job_tail_s": "s",
         "old_gen_peak_mb": "MB"}
RUN_TIMEOUT_S = 170


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "lake.bytes_per_input_byte":
        return "B/B"
    return "count"


def oracle_failures(jar, digests):
    """The build's oracle check of each job kind, and whether this run's
    outputs have the digests the build checked."""
    verified = json.load(open(build.verified_path(jar)))
    out = [f"build run: {f}" for f in verified["failures"]]
    for kind, d in sorted(digests.items()):
        v = verified["outputs"].get(kind)
        if v is None:
            out.append(f"{kind}: not checked by the build")
        elif v["oracle"]:
            out.append(f"oracle {kind}: {v['oracle']}")
        elif v["digest"] != d:
            out.append(f"{kind}: output digest {d} differs from the oracle-checked {v['digest']}")
    return out


def self_check(root, jar):
    """The statistics tests and perfbench.DigestCheck; returns an exit code."""
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(stream=sys.stderr).run(suite).wasSuccessful()
    rc = subprocess.run(build.java(root, jar, "perfbench.DigestCheck")).returncode
    return 0 if ok and rc == 0 else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()

    root = os.getcwd()
    jar = build.build(root)
    if a.check:
        sys.exit(self_check(root, jar))
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    target = build.target_dir(root)
    run_dir = os.path.join(target, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record_path = os.path.join(run_dir, "record.json")
    jsa, opts = build.archive(jar)
    cmd = build.java(root, jar, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                     str(a.trace), build.DATA, os.path.join(run_dir, "work"), record_path,
                     str(int(time.time() * 1000)), opts=(f"-XX:SharedArchiveFile={jsa}", *opts))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=build.jvm_env(root),
                                timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(record_path):
        sys.stderr.write(open(log_path).read()[-6000:])
        sys.exit(f"perfbench: the benchmark JVM failed ({rc}); log {log_path}")
    rec = json.load(open(record_path))

    failures = list(rec["failures"])
    checked = oracle_failures(jar, rec["digests"])
    failures += checked
    failed = rec["failed"] + len(checked)
    attempted = rec["attempted"]

    if a.trace:
        metrics, problems = stats.per_layer(rec, a.workload)
        failures += [f"reconciliation: {p}" for p in problems]
        failed += len(problems)
        units = {k: layer_unit(k) for k in (metrics or {})}
        detail = {}
    else:
        metrics, detail = stats.end_to_end(rec)
        units = UNITS
        if metrics["job_tail_s"] is None:
            failures.append("fewer than 11 job samples: no tail")
            failed += 1
    correct = failed == 0 and metrics is not None and all(
        v is not None for v in metrics.values())

    summary = {k: rec[k] for k in ("workload", "seed", "trace", "cpus", "conf",
                                   "setup_phases", "setup_s", "measured_s",
                                   "canary", "digests")}
    summary.update(detail)
    summary["error_rate"] = failed / attempted if attempted else None
    summary["failures"] = failures
    keep = os.path.join(target, "records")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, os.path.basename(run_dir) + ".json"), "w") as fh:
        json.dump(rec, fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in (metrics or {}).items()},
    }))
    for f in failures:
        print(f"perfbench: {f}", file=sys.stderr)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
