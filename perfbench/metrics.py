"""Metric declarations and the per-layer metrics computed from a traced
run.  ``BENCHMARK.json`` lists the same names; ``smoke.py`` checks
that the two agree."""

from __future__ import annotations

import statistics

from harness import tail

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "commit_p50_s": "s",
    "read_p50_s": "s",
    "write_bytes_per_row": "B/row",
}

# per-call wall-time medians: metric -> op name
CALL_LATENCY = {
    "schema.validate_call_s": "schema.validate",
    "sinks.write_clean_s": "sinks.write_clean",
    "sinks.write_dead_letter_s": "sinks.write_dead_letter",
    "schema.error_counts_s": "schema.error_counts",
    "versioned.merge_s": "versioned.merge",
    "versioned.delete_cow_s": "versioned.delete_cow",
    "versioned.delete_mor_s": "versioned.delete_mor",
    "versioned.update_s": "versioned.update",
    "versioned.optimize_s": "versioned.optimize",
    "versioned.read_point_s": "versioned.read_point",
    "versioned.read_scan_s": "versioned.read_scan",
    "versioned.read_asof_s": "versioned.read_asof",
    "versioned.read_changes_s": "versioned.read_changes",
    "functions.curate_s": "functions.curate_comments",
}

PER_LAYER = {
    **{m: "s" for m in CALL_LATENCY},
    "commit_tail_s": "s",
    "read_tail_s": "s",
    "fail_ratio": "share",
    "validate.input_scans_per_batch": "scans",
    "versioned.jobs_per_commit": "jobs",
    "versioned.sidecar_jobs_per_commit": "jobs",
    "versioned.files_added_per_commit": "files",
    "versioned.bytes_added_per_commit": "B",
    "versioned.prune_ratio": "share",
    "versioned.commit_drift": "ratio",
    "spark.unattributed_jobs": "jobs/op",
    "driver.gap_s": "s/op",
    "codegen.compiles": "count/op",
    "codegen.compile_s": "s/op",
    "spark.jobs_per_op": "jobs/op",
    "spark.tasks_per_op": "tasks/op",
    "executor.run_s": "s/op",
    "executor.cpu_s": "s/op",
    "executor.gc_s": "s/op",
    "executor.busy_share": "share",
    "pyworker.exec_s": "s/op",
    "pyworker.boot_s": "s/op",
    "pyworker.bytes_sent": "B/op",
    "shuffle.write_bytes": "B/op",
    "shuffle.read_bytes": "B/op",
    "io.input_bytes": "B/op",
    "io.output_bytes": "B/op",
    "functions.build_s": "s",
    "jvm.heap_peak_mb": "MB",
    "peak_rss_mb": "MB",
    "trace.overhead_share": "share",
    "trace.span_coverage": "share",
}

SPAN_TOLERANCE = 0.05
SIDECAR_FUNCTIONS = ["_file_blooms", "_file_ndv", "_file_hdr"]
VERSIONED_COMMITS = {"versioned.merge", "versioned.delete_cow",
                     "versioned.delete_mor", "versioned.update",
                     "versioned.optimize"}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def samples(ops, kind: str) -> list[float]:
    """Per-iteration sums of one kind of call: a validate batch's two
    sink writes are one commit, a table op is its own iteration."""
    per: dict[int, float] = {}
    for op in ops:
        if op.kind == kind:
            per[op.iteration] = per.get(op.iteration, 0.0) + op.wall
    return list(per.values())


def layer_metrics(rec, wl, cpus: int,
                  sidecar_ranges: dict | None) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run, plus report lines."""
    ops = rec.ops
    spans = rec.spans
    calls = [s for s in spans if s.get("group") and "tasks" in s]
    out: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    notes: list[str] = []

    for metric, name in CALL_LATENCY.items():
        out[metric] = _median(op.wall for op in ops if op.name == name)
    for kind in ("commit", "read"):
        xs = samples(ops, kind)
        if xs:
            v, pct, n = tail(xs)
            out[f"{kind}_tail_s"] = v
            notes.append(f"{kind}_tail_s = p{pct:g} of {n} samples")
    out["fail_ratio"] = rec.failed / max(1, rec.attempted)

    n = max(1, len(calls))
    wall = sum(s["end"] - s["start"] for s in calls)
    tot = {k: sum(s["tasks"][k] for s in calls)
           for k in (calls[0]["tasks"] if calls else {})}
    if calls:
        out["spark.jobs_per_op"] = sum(
            len(s["jobs"]) + len(s["unattributed"]) for s in calls) / n
        out["spark.unattributed_jobs"] = sum(
            len(s["unattributed"]) for s in calls) / n
        out["spark.tasks_per_op"] = tot["tasks"] / n
        out["driver.gap_s"] = sum(
            max(0.0, (s["end"] - s["start"]) - s["job_union_s"])
            for s in calls) / n
        out["codegen.compiles"] = sum(s["codegen_compiles"] for s in calls) / n
        out["codegen.compile_s"] = sum(
            s["codegen_ms"] for s in calls) / n / 1e3
        out["executor.run_s"] = tot["run_ms"] / n / 1e3
        out["executor.cpu_s"] = tot["cpu_ns"] / n / 1e9
        out["executor.gc_s"] = tot["gc_ms"] / n / 1e3
        out["executor.busy_share"] = tot["run_ms"] / 1e3 / max(1e-9,
                                                              wall * cpus)
        out["pyworker.exec_s"] = tot["py_run_ms"] / n / 1e3
        out["pyworker.boot_s"] = tot["py_boot_ms"] / n / 1e3
        out["pyworker.bytes_sent"] = tot["py_sent"] / n
        out["shuffle.write_bytes"] = tot["shuffle_w"] / n
        out["shuffle.read_bytes"] = tot["shuffle_r"] / n
        out["io.input_bytes"] = tot["in_bytes"] / n
        out["io.output_bytes"] = tot["out_bytes"] / n
        mism = sum(1 for s in calls if s["tracker_jobs"] != len(s["jobs"]))
        notes.append(f"attribution: {len(calls)} traced calls, "
                     f"{sum(len(s['jobs']) for s in calls)} jobs in groups "
                     f"(status tracker disagrees on {mism} calls), "
                     f"{sum(len(s['unattributed']) for s in calls)} "
                     "group-less jobs inside call intervals")

    commits = [s for s in calls if s["name"] in VERSIONED_COMMITS]
    if commits:
        out["versioned.jobs_per_commit"] = _median(
            len(s["jobs"]) + len(s["unattributed"]) for s in commits)
        if sidecar_ranges:
            out["versioned.sidecar_jobs_per_commit"] = _median(
                sum(_in_ranges(cs, sidecar_ranges) for cs in s["callsites"])
                for s in commits)

    # span reconciliation: each traced iteration's call spans against
    # its wall time less the benchmark's own untimed work in it
    cover = []
    for it in spans:
        if it["name"] == "iteration" and it.get("wall"):
            phase = it["wall"] - it["untimed_s"]
            own = sum(s["end"] - s["start"] for s in spans
                      if s.get("group") and s["parent"] == it["id"])
            if phase > 0:
                cover.append(own / phase)
    out["trace.span_coverage"] = _median(cover)
    off = [c for c in cover if abs(c - 1.0) > SPAN_TOLERANCE]
    notes.append(
        ("WARNING " if off else "")
        + f"span reconciliation: call spans cover "
        f"{out['trace.span_coverage']:.4f} (median; min "
        f"{min(cover, default=0):.4f}, max {max(cover, default=0):.4f}) of "
        f"{len(cover)} traced iterations' wall less their untimed checks; "
        f"{len(off)} outside 1 ± {SPAN_TOLERANCE}")
    out.update(wl.layer_metrics(calls))
    return out, notes


# end-to-end metrics tracing can slow down, and whether higher is better
TIMED_END_TO_END = {"setup_s": False, "rows_per_s": True,
                    "commit_p50_s": False, "read_p50_s": False}


def overhead_share(traced: dict, untraced: dict) -> float:
    """Tracing cost: how much worse the traced run's end-to-end times
    are than an untraced run's of the same seed and length, as a
    share, median over the timed end-to-end metrics."""
    worse = []
    for name, higher in TIMED_END_TO_END.items():
        t, u = traced.get(name), untraced.get(name)
        if t and u:
            worse.append(u / t - 1.0 if higher else t / u - 1.0)
    return _median(worse)


def _in_ranges(callsite: str, ranges: dict) -> bool:
    # "collect at /path/versioned.py:450"
    loc = callsite.rsplit(" ", 1)[-1]
    path, _, line = loc.rpartition(":")
    if not line.isdigit():
        return False
    base = path.rsplit("/", 1)[-1]
    return any(base == f and lo <= int(line) <= hi
               for f, lo, hi in ranges.values())
