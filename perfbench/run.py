"""Seeded closed-loop benchmark of filters_spark.

    python3 perfbench/run.py --workload validate_ingest --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root.  One client drives one Spark session on
``local[N]`` (N = min(4, nproc)).  The run generates (or reuses from
``.perfbench/cache``) the seed's inputs, sets up, runs the workload's
closed loop for ``--seconds``, checks every call's output, and prints
a report followed by one JSON line: every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {
    "validate_ingest": "wl_validate",
    "table_commits": "wl_table",
    "corpus_curate": "wl_corpus",
}
# After its own session has stopped, a traced run runs the same seed
# and length untraced, to state what tracing costs.  That run gets what
# is left of RUN_LIMIT_S since process start, and is skipped below
# MIN_UNTRACED_S.
RUN_LIMIT_S = 150
MIN_UNTRACED_S = 40
ENV = dict(os.environ)


class Context:
    def __init__(self, seed: int, scratch: harness.Scratch):
        self.seed = seed
        self.scratch = scratch
        self.rec: harness.Recorder | None = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def untraced_run(args) -> tuple[dict | None, str]:
    """Run the same workload, seed, length and size untraced, as its
    own process; returns its result line and a report line."""
    budget = RUN_LIMIT_S - (time.perf_counter() - T_START)
    if budget < MIN_UNTRACED_S:
        return None, (f"untraced comparison run: skipped, {budget:.0f} s "
                      "left of the run's time limit")
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0",
           "--size", args.size]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, env=ENV,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        # the killed run could not remove its own run root
        harness.Scratch(os.getcwd(), f"{args.workload}-{args.seed}-0-"
                        f"{proc.pid}").remove()
        return None, (f"untraced comparison run: stopped after "
                      f"{budget:.0f} s, the rest of the run's time limit")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, (f"untraced comparison run: exit {proc.returncode} "
                      f"{err.strip()[-300:]}")
    result = json.loads(lines[-1])
    values = {n: m["value"] for n, m in result["metrics"].items()}
    return result, "untraced comparison run: " + " ".join(
        f"{n}={v:.6g}" for n, v in values.items())


def end_to_end(setup_s: float, wl, ops, iter_walls) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "rows_per_s": wl.rows_per_s(iter_walls),
        "commit_p50_s": statistics.median(metrics.samples(ops, "commit")),
        "read_p50_s": statistics.median(metrics.samples(ops, "read")),
        "write_bytes_per_row": wl.write_bytes_per_row(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "filters_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root "
              "(filters_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    cpus = min(4, nproc)
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    scratch = harness.Scratch(checkout, run_id)
    spark = None
    try:
        harness.configure_env(scratch, cpus, bool(args.trace))
        load_start = harness.loadavg()
        steal_start = harness.cpu_steal_s()
        ctx = Context(args.seed, scratch)
        module = __import__(WORKLOADS[args.workload])
        t = time.perf_counter()
        wl = module.Workload(ctx, args.size)
        gen_s = time.perf_counter() - t

        import filters_spark  # noqa: F401
        from filters_spark.sources import get_spark
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        rec = harness.Recorder(spark, bool(args.trace), str(os.getpid()))
        ctx.rec = rec
        wl.start(spark)
        boot_s = time.perf_counter() - T_START - gen_s
        reps = []
        for r in range(wl.setup_reps):
            rec.begin_iteration(-1 - r, timed=False)
            t = time.perf_counter()
            wl.setup_rep(r)
            reps.append(time.perf_counter() - t)
        setup_s = boot_s + statistics.median(reps)

        iter_names: dict[int, str] = {}
        persisted = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        # stop at the first cycle boundary after the deadline, so every
        # run measures whole cycles of the workload's op mix
        while not wl.exhausted() and (time.perf_counter() < deadline
                                      or not wl.at_boundary()):
            name = wl.peek()
            iter_names[i] = name
            rec.begin_iteration(i)
            try:
                wl.iteration(i)
            except Exception as exc:
                # a failed op fails the run's correctness, not the run:
                # the closed loop goes on with the next iteration
                rec.check(f"iteration {i} ({name})", False,
                          f"{type(exc).__name__}: {exc}")
                traceback.print_exc(file=sys.stderr)
            finally:
                rec.end_iteration()
            if args.trace:
                persisted.append(rec.persisted_rdds())
            i += 1
        loop_end = time.perf_counter()
        rec.begin_iteration(i, timed=False)
        wl.finish()
        load_end = harness.loadavg()
        steal_s = harness.cpu_steal_s() - steal_start

        ops = rec.ops
        iter_walls: dict[int, float] = {}
        for op in ops:
            iter_walls[op.iteration] = iter_walls.get(op.iteration, 0.0) \
                + op.wall
        commit = metrics.samples(ops, "commit")
        read = metrics.samples(ops, "read")
        e2e = end_to_end(setup_s, wl, ops, iter_walls)
        finish_s = time.perf_counter()
        java = harness.jvm_pid(spark)
        rss_py = harness.vm_hwm_kb(os.getpid()) / 1024
        rss_jvm = (harness.vm_hwm_kb(java) if java else 0) / 1024
        heap_mb = rec.heap_peak_mb() if args.trace else 0.0
        harness.shutdown(spark)
        spark = None
        stop_s = time.perf_counter()

        report = [
            f"workload {args.workload} seed {args.seed} size {args.size} "
            f"trace {args.trace}",
            f"cpus local[{cpus}] nproc {nproc} loadavg start {load_start} "
            f"end {load_end}; cpu steal {steal_s:.1f} s",
            f"inputs {json.dumps(wl.describe(), sort_keys=True)}",
            f"input generation {gen_s:.3f} s (not in setup_s); boot "
            f"{boot_s:.3f} s; set-up reps {[round(r, 3) for r in reps]}",
            f"iterations {len(iter_walls)}; commit samples {len(commit)}; "
            f"read samples {len(read)}",
            f"peak rss: driver python {rss_py:.0f} MB, spark jvm "
            f"{rss_jvm:.0f} MB",
            f"wall: loop ended {loop_end - T_START:.1f} s, checks done "
            f"{finish_s - T_START:.1f} s, session stopped "
            f"{stop_s - T_START:.1f} s after process start",
        ]
        by_name: dict[str, list[float]] = {}
        for op in ops:
            by_name.setdefault(op.name, []).append(op.wall)
        report += [f"call {n}: n={len(w)} median={statistics.median(w):.4f} s "
                   f"max={max(w):.4f} s" for n, w in sorted(by_name.items())]
        report.append("iteration walls: " + " ".join(
            f"{iter_names[i]}={w:.3f}" for i, w in sorted(iter_walls.items())))
        if args.trace:
            log = harness.read_event_log(scratch.path("events"))
            harness.attribute(rec.spans, log)
            ranges = None
            if args.workload == "table_commits":
                from filters_spark.sources import versioned
                ranges = harness.function_line_ranges(
                    versioned, metrics.SIDECAR_FUNCTIONS)
            values, notes = metrics.layer_metrics(rec, wl, cpus, ranges)
            values["jvm.heap_peak_mb"] = heap_mb
            values["peak_rss_mb"] = rss_py + rss_jvm
            values["cache.persisted_after"] = float(max(persisted or [0]))
            untraced, untraced_note = untraced_run(args)
            base = ({n: m["value"] for n, m in untraced["metrics"].items()}
                    if untraced else {})
            values["trace.overhead_share"] = metrics.overhead_share(e2e, base)
            notes.append(untraced_note)
            notes.append("traced run: " + " ".join(
                f"{n}={v:.6g}" for n, v in e2e.items()))
            notes.append(f"trace.overhead_share = "
                         f"{values['trace.overhead_share']:.4f}: traced ÷ "
                         "untraced − 1 per timed end-to-end metric "
                         "(throughput inverted), median")
            if untraced is not None and not (untraced["correct"]
                                             and not untraced["failed"]):
                rec.failures.append("untraced comparison run: incorrect")
            report += notes
            units = metrics.PER_LAYER
            os.makedirs(scratch.traces, exist_ok=True)
            artifact = os.path.join(
                scratch.traces, f"{args.workload}-seed{args.seed}.json")
            with open(artifact, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "inputs": wl.describe(), "cpus": cpus,
                           "metrics": values, "notes": notes,
                           "end_to_end": {"traced": e2e, "untraced": base},
                           "spans": rec.spans}, f)
            report.append(f"trace artifact {os.path.relpath(artifact)}")
        else:
            values = e2e
            units = metrics.END_TO_END
        for f in rec.failures[:20]:
            report.append(f"FAILED {f}")
        for name in units:
            report.append(f"{name} {values[name]:.6g} {units[name]}")
        print("\n".join(report))
        result = {
            "correct": rec.failed == 0 and not rec.failures,
            "attempted": rec.attempted,
            "failed": rec.failed,
            "metrics": {n: {"value": values[n], "unit": u}
                        for n, u in units.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            harness.shutdown(spark)
        scratch.remove()


if __name__ == "__main__":
    sys.exit(main())
