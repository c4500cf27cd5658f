"""Benchmark entry point.

    python3 perfbench/run.py --workload rmat_kernels --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Starts a Spark session sized to the
host, sets the workload up three times (the median is ``setup_s``),
runs warm-up passes, then runs passes in a closed loop until
``--seconds`` of step time have been measured.  Every pass's outputs
are checked against an engine-independent reference outside the timed
window.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it describes the host and the per-step timings.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_p50_s": "s",
}

#: layers whose spans the benchmark records, in pipeline order
LAYERS = [
    "rmat.generate",
    "graph.symmetrize",
    "components",
    "bfs",
    "pagerank",
    "triangles",
    "updates.merge",
    "workflow.merge",
    "workflow.cc_maint",
    "workflow.pr_maint",
    "dedup",
    "curation",
]

LAYER_COUNTERS = {
    "pct": "%",
    "self_pct": "%",
    "stages": "count",
    "tasks": "count",
    "task_cpu_pct": "%",
    "gc_pct": "%",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}

#: whole-pass totals; byte and task totals are the layers' sums
PASS_COUNTERS = {
    "pass.jobs": "count",
    "pass.stages": "count",
    "pass.task_cpu_s": "s",
    "pass.gc_s": "s",
    "pass.self_s": "s",
}

SPECIALS = {
    "graph.canon_per_raw": "ratio",
    "components.fast_path": "ratio",
    "bfs.fast_path": "ratio",
    "bfs.reached": "count",
    "pagerank.fast_path": "ratio",
    "triangles.fast_path": "ratio",
    "workflow.jobs_per_batch": "count",
    "workflow.stages_per_batch": "count",
    "dedup.candidates": "count",
    "dedup.verified": "count",
    "dedup.verify_yield": "ratio",
    "dedup.planted_recall": "count",
    "curation.kept_frac": "ratio",
}

#: set-ups per run; ``setup_s`` takes the median
SETUP_REPS = 3

#: a run stops starting passes after this much wall time
WALL_LIMIT_S = 140


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "trace.pass_p50_s": "s"}
    units.update(PASS_COUNTERS)
    for layer in LAYERS:
        for key, unit in LAYER_COUNTERS.items():
            units[f"{layer}.{key}"] = unit
    units.update(SPECIALS)
    return units


def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"nproc": cpus, "ram_gb": round(ram / 2**30, 1)}


def configure_env(info: dict, work: str) -> None:
    """Size the engine to the host; everything it writes stays in
    ``work``.  Must run before the JVM starts."""
    driver_gb = max(1, min(4, int(info["ram_gb"] // 5)))
    os.environ["SPARK_GRAFT_CPUS"] = str(info["nproc"])
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(info["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    # Python workers import the engine from the checkout
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    info["driver_mem"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]


def tail_stat(samples: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it, when
    that percentile lies above the median (21 samples or more)."""
    n = len(samples)
    if n < 21:
        return None
    k = n - 11  # index of the highest sample with ten samples above it
    return f"p{100 * k // (n - 1)}", sorted(samples)[k]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs;
    0 where ``/proc/stat`` has no steal column."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants: the driver,
    the JVM it launched and the JVM's Python workers."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(name)] = int(fields[1])
        rss[int(name)] = int(fields[21]) * page
    total, todo = 0, [root]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / 2**20


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, measured: set[int], n_passes: int, step_seconds: float,
                  events_dir: str, wl) -> dict[str, float]:
    from tracing import inclusive, read_event_log, uncovered_seconds

    inc = inclusive(tracer, read_event_log(events_dir))
    kids = tracer.children()
    spans = [s for s in tracer.spans if s.sid in measured]
    top = [s for s in spans if s.parent is None or s.parent not in measured]
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        secs = sum(s.seconds for s in mine)
        own = sum(tracer.self_seconds(s.sid, kids) for s in mine)
        c = [inc[s.sid] for s in mine]
        out[f"{layer}.pct"] = 100 * secs / step_seconds
        out[f"{layer}.self_pct"] = 100 * own / step_seconds
        out[f"{layer}.stages"] = sum(x.stages for x in c) / n_passes
        out[f"{layer}.tasks"] = sum(x.tasks for x in c) / n_passes
        out[f"{layer}.task_cpu_pct"] = 100 * sum(x.task_cpu_s for x in c) / step_seconds
        out[f"{layer}.gc_pct"] = 100 * sum(x.gc_s for x in c) / step_seconds
        out[f"{layer}.shuffle_read_bytes"] = sum(x.shuffle_read_bytes for x in c) / n_passes
        out[f"{layer}.shuffle_write_bytes"] = sum(x.shuffle_write_bytes for x in c) / n_passes
        out[f"{layer}.spill_bytes"] = sum(x.spill_bytes for x in c) / n_passes
    c = [inc[s.sid] for s in top]
    out["pass.jobs"] = sum(x.jobs for x in c) / n_passes
    out["pass.stages"] = sum(x.stages for x in c) / n_passes
    out["pass.task_cpu_s"] = sum(x.task_cpu_s for x in c) / n_passes
    out["pass.gc_s"] = sum(x.gc_s for x in c) / n_passes
    out["pass.self_s"] = sum(uncovered_seconds(s, inc[s.sid].job_intervals) for s in top) / n_passes
    batches = [inc[s.sid] for s in top if s.layer == "workflow.batch"]
    out["workflow.jobs_per_batch"] = sum(x.jobs for x in batches) / n_passes if batches else 0.0
    out["workflow.stages_per_batch"] = sum(x.stages for x in batches) / n_passes if batches else 0.0

    cand = sum(wl.notes.get("dedup.candidates", []))
    out["dedup.verify_yield"] = sum(wl.notes.get("dedup.verified", [])) / cand if cand else 0.0
    for key in SPECIALS:
        if key not in out:  # the rest are per-pass notes, averaged
            vals = wl.notes.get(key)
            out[key] = statistics.fmean(vals) if vals else 0.0
    return out


def step_summary(wl, steps: dict[str, list[float]]) -> dict:
    """Per-step medians with sample counts and, where the sample allows,
    the tail (the paper's per-kernel numbers), plus derived rates."""
    out: dict[str, dict] = {}
    for step, vals in steps.items():
        tail = tail_stat(vals)
        out[f"{step}_s"] = {
            "median": statistics.median(vals),
            "n": len(vals),
            "samples": vals,
            "tail": {tail[0]: tail[1]} if tail else "fewer than 21 samples",
        }
    for key, vals in sorted(wl.notes.items()):
        if key.endswith("_eps"):
            out[key] = {"median": statistics.median(vals), "n": len(vals)}
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> int:
    info = host_info()
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "local"))
    os.makedirs(os.path.join(work, "tmp"))
    configure_env(info, work)
    t_wall = time.time()

    from graphdb_testing_spark.session import get_spark
    from tracing import Tracer
    from workloads import SIZES, WORKLOADS

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # temporary files stay in the work directory
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
    }
    events = os.path.join(work, "events")
    if trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    session_s = time.time() - t0
    info["spark"] = spark.version
    jvm = spark.sparkContext._jvm
    info["java"] = jvm.System.getProperty("java.version")
    tracer = Tracer(spark.sparkContext, trace)
    wl = WORKLOADS[workload](spark, tracer, seed, SIZES[size])
    attempted = failed = 0
    errors: list[str] = []
    steps: dict[str, list[float]] = {name: [] for name in wl.STEPS}
    measured: set[int] = set()
    rss: list[float] = []
    me = os.getpid()

    def fail(n: int, msgs: list[str]) -> None:
        nonlocal attempted, failed
        attempted += n
        failed += n
        errors.extend(msgs)

    try:
        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.time()
            wl.generate()
            wl.prepare()
            setups.append(time.time() - t0)
        setup_s = session_s + statistics.median(setups)
        t0 = time.time()
        i = 0
        try:
            while i < wl.WARMUP:
                wl.run_pass(i)
                rss.append(tree_rss_mb(me))
                wl.release()
                jvm.System.gc()
                i += 1
        except Exception as exc:
            tracer.abort()
            fail(len(wl.STEPS), [f"warm-up pass raised {type(exc).__name__}: {exc}"])
        warmup_s = time.time() - t0
        wl.notes.clear()
        timed = check_s = 0.0
        passes = 0
        steal0, loop0 = cpu_steal_s(), time.time()
        while not failed and timed < seconds and time.time() - t_wall < WALL_LIMIT_S:
            first = len(tracer.spans)
            try:
                got = wl.run_pass(i)
                rss.append(tree_rss_mb(me))
                t0 = time.time()
                bad = wl.check(i)
                check_s += time.time() - t0
                # collect the check's garbage (collected results) here,
                # not inside the next pass's timed steps
                jvm.System.gc()
            except Exception as exc:  # counted as failed; ends the loop
                tracer.abort()
                fail(len(wl.STEPS), [f"pass {i} raised {type(exc).__name__}: {exc}"])
                break
            attempted += len(got)
            failed += len(bad)
            for msgs in bad.values():
                errors.extend(msgs)
            for step, secs in got.items():
                steps[step].append(secs)
                timed += secs
            measured.update(range(first, len(tracer.spans)))
            passes += 1
            i += 1
        steal = cpu_steal_s() - steal0
        loop_s = time.time() - loop0
        if passes:
            try:
                bad = wl.final_check()
            except Exception as exc:
                bad = {"final": [f"final check raised {type(exc).__name__}: {exc}"]}
            if bad:
                # the final state covers every pass: all of them are wrong
                failed = attempted
                for msgs in bad.values():
                    errors.extend(msgs)
    finally:
        stop_engine(spark)
    if not passes:
        print(f"no pass succeeded: {errors[:3]}", file=sys.stderr)
        return 1
    step_seconds = sum(sum(v) for v in steps.values())
    pass_p50 = sum(statistics.median(v) for v in steps.values())
    if trace:
        metrics = {"session.start_s": session_s, "trace.pass_p50_s": pass_p50}
        metrics.update(layer_metrics(tracer, measured, passes, step_seconds, events, wl))
        units = per_layer_units()
    else:
        metrics = {"setup_s": setup_s, "peak_rss_mb": max(rss), "pass_p50_s": pass_p50}
        units = END_TO_END
    detail = {
        "workload": workload,
        "seed": seed,
        "size": size,
        "trace": trace,
        "host": info,
        "setup": {"session_s": session_s, "generate_prepare_s": setups},
        "warmup": {"passes": wl.WARMUP, "seconds": warmup_s},
        "passes": passes,
        "rss_mb": rss,
        "check_s": check_s,
        # ambient noise: share of the measured loop's CPU time stolen by
        # other guests of the host
        "steal_pct": 100 * steal / (loop_s * info["nproc"]),
        "steps": step_summary(wl, steps),
        "errors": errors[:10],
    }
    if "dedup.planted" in wl.notes:
        detail["planted_pairs"] = {
            "found": sum(wl.notes["dedup.planted_recall"]),
            "planted": sum(wl.notes["dedup.planted"]),
        }
    print(json.dumps(detail))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["rmat_kernels", "corpus_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="input sizes; tiny is for the smoke test")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "graphdb_testing_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    return run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)


if __name__ == "__main__":
    sys.exit(main())
