"""The benchmark's statistics: reduces a raw run record (written by
perfbench.Main) to the end-to-end and per-layer metrics."""
import math
import statistics

TAIL_BEYOND = 10
LAYERS_OF_LAKE_WRITES = ("load", "scd2", "agg")
# the top-level layers a traced cycle's wall time is split into
SPAN_LAYERS = ("ingest", "load", "scd2", "agg", "expire", "discover", "entry", "stream")


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile of `samples` with at least `beyond` samples
    above it: the value at sorted position n - beyond - 1. Returns
    (value, percentile, sample count); never the max, and None when there
    are too few samples for such a percentile."""
    s = sorted(samples)
    n = len(s)
    if n < beyond + 1:
        return None
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n, n


def geomean_of_medians(by_kind):
    """Geometric mean, across job kinds, of each kind's median time."""
    meds = [statistics.median(v) for v in by_kind.values() if v]
    if not meds or min(meds) <= 0:
        return None
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def job_samples(cycles):
    """Per-kind job times of the given cycles. A stream drain's jobs are
    its micro-batches, timed by their `triggerExecution`."""
    by_kind = {}
    for c in cycles:
        for s in c["spans"]:
            if s["layer"] == "stream":
                by_kind.setdefault(s["kind"], []).extend(
                    t[0] / 1e3 for t in s["triggers"])
            elif s["job"]:
                by_kind.setdefault(s["kind"], []).append(s["wall_s"])
    return by_kind


def end_to_end(rec):
    timed = [c for c in rec["cycles"] if c["timed"] and not c["traced"]]
    walls = [c["wall_s"] for c in timed]
    by_kind = job_samples(timed)
    pooled = [x for v in by_kind.values() for x in v]
    t = tail(pooled)
    half = len(walls) // 2
    detail = {
        "cycles": len(walls),
        "cycle_s_first_half": statistics.median(walls[:half]) if half else None,
        "cycle_s_second_half": statistics.median(walls[half:]) if walls else None,
        "files_live": [c["files_live"] for c in rec["cycles"]],
        "job_tail": None if t is None else
            {"value": t[0], "percentile": t[1], "samples": t[2], "beyond": TAIL_BEYOND},
        "kind_medians": {k: statistics.median(v) for k, v in sorted(by_kind.items()) if v},
    }
    metrics = {
        "setup_s": rec["setup_s"],
        "cycle_s": statistics.median(walls) if walls else None,
        "job_geomean_s": geomean_of_medians(by_kind),
        "job_tail_s": None if t is None else t[0],
        "old_gen_peak_mb": max(c["old_gen_mb"] for c in timed) if timed else None,
    }
    return metrics, detail


def cycle_layers(c, session_start_s):
    """Per-layer values of one traced cycle, and the reconciliation
    problems found in it."""
    spans = c["spans"]

    def wall(layer):
        return sum(s["wall_s"] for s in spans if s["layer"] == layer)

    def stat(key, layers=None):
        return sum(s["stats"][key] for s in spans
                   if s["stats"] and (layers is None or s["layer"] in layers))

    entry = [s for s in spans if s["layer"] == "entry"]
    streams = [s for s in spans if s["layer"] == "stream"]
    trig = [t for s in streams for t in s["triggers"]]
    busy = sum(s["stats"]["stage_busy_s"] for s in entry if s["stats"])
    trigger_s = sum(t[0] for t in trig) / 1e3
    written = stat("bytes_written", LAYERS_OF_LAKE_WRITES)
    v = {
        "sessions.start_s": session_start_s,
        "ingest.read_s": wall("ingest"),
        "ingest.rows": sum(s["stats"]["rows_written"] for s in spans
                           if s["kind"] == "load.raw" and s["stats"]),
        "pipeline.load_s": wall("load"),
        "pipeline.scd2_s": wall("scd2"),
        "pipeline.agg_s": wall("agg"),
        "lake.write_s": stat("write_s", LAYERS_OF_LAKE_WRITES),
        "lake.files_written": stat("files_written", LAYERS_OF_LAKE_WRITES),
        "lake.bytes_per_input_byte": written / c["input_bytes"] if c["input_bytes"] else 0.0,
        "lake.expire_s": wall("expire"),
        "lake.discover_s": wall("discover"),
        "lake.files_live": c["files_live"],
        "entry.plan_s": stat("plan_s", ("entry",)),
        "entry.jobs": stat("jobs", ("entry",)),
        "entry.stage_busy_s": busy,
        "entry.driver_gap_s": wall("entry") - busy,
        "entry.tasks": stat("tasks", ("entry",)),
        "entry.executor_run_s": stat("executor_run_s", ("entry",)),
        "entry.executor_cpu_s": stat("executor_cpu_s", ("entry",)),
        "entry.shuffle_mb": stat("shuffle_bytes", ("entry",)) / 2**20,
        "entry.spill_mb": stat("spill_bytes", ("entry",)) / 2**20,
        "entry.gc_s": stat("gc_s", ("entry",)),
        "entry.result_mb": stat("result_bytes", ("entry",)) / 2**20,
        "entry.task_failures": stat("task_failures"),
        "streaming.triggers": len(trig),
        "streaming.trigger_s": trigger_s,
        "streaming.overhead_s": sum(t[1] for t in trig) / 1e3,
        "streaming.add_batch_s": sum(t[2] for t in trig) / 1e3,
        "streaming.state_commit_s": sum(t[3] for t in trig) / 1e3,
        "streaming.state_update_s": sum(t[4] for t in trig) / 1e3,
        # state size at the end of each drain, summed over the drains
        "streaming.state_rows": sum(s["triggers"][-1][5] for s in streams if s["triggers"]),
        "streaming.state_mem_mb": sum(max(t[6] for t in s["triggers"])
                                      for s in streams if s["triggers"]) / 2**20,
        "streaming.driver_gap_s": wall("stream") - trigger_s,
    }
    # every span's wall is attributed once: query spans split into stage
    # busy and driver gap, drains into trigger time and driver gap
    v["unattributed_s"] = c["wall_s"] - sum(wall(l) for l in SPAN_LAYERS)
    problems = []
    if v["unattributed_s"] < -1e-3:
        problems.append(f"spans exceed the cycle wall by {-v['unattributed_s']:.4f} s")
    # trigger times are whole milliseconds: allow 1 ms of rounding each
    for s in streams:
        slack = s["wall_s"] + 1e-3 * len(s["triggers"]) - sum(t[0] for t in s["triggers"]) / 1e3
        if slack < 0:
            problems.append(f"{s['kind']} triggers exceed its drain by {-slack:.4f} s")
    return v, problems


def per_layer(rec, workload):
    traced = [c for c in rec["cycles"] if c["timed"] and c["traced"]]
    plain = [c for c in rec["cycles"] if c["timed"] and not c["traced"]]
    problems = []
    rows = []
    for c in traced:
        v, p = cycle_layers(c, rec["setup_phases"]["session_start_s"])
        rows.append(v)
        problems += [f"cycle {c['index']}: {x}" for x in p]
    if not rows:
        return None, ["no traced cycle"]
    if workload == "stream_drain" and min(r["streaming.triggers"] for r in rows) <= 0:
        problems.append("a traced stream cycle saw no triggers from its child sessions")
    metrics = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    metrics["trace.overhead_s"] = (
        statistics.median(c["wall_s"] for c in traced)
        - statistics.median(c["wall_s"] for c in plain))
    return metrics, problems
