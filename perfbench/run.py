"""The repository benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 15 --trace 0

Run from the repository root.  The session is the engine's production
one (``biggie_spark.session.get_spark()`` on ``local[nproc]``); the
benchmark sets no Spark conf.  Inputs are generated from ``--seed`` into
``.perfbench/work-<pid>/``, which is removed at exit.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` wraps the
library's public functions, records spans and Spark counters, and prints
the per-layer metrics (spans are written to ``.perfbench/traces/``).
Lines before the last describe the run; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "pass_total_s": "s",
}
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.action_ms": "ms",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "proc.cpu_util": "%",
    "registry.self_pct": "%",
    "io.self_pct": "%",
    "util.self_pct": "%",
    "stash.self_pct": "%",
    "tablefmt.self_pct": "%",
    "registry.construct_jobs": "count",
    "io.load_table_calls": "count",
    "util.fan_out_calls": "count",
    "util.lineage_cap_calls": "count",
    "util.knn_exact_calls": "count",
    "stash.tasks_per_get": "count",
    "stash.bytes_written": "MiB",
    "tablefmt.bytes_written": "MiB",
    "tablefmt.files_live": "count",
    "tablefmt.log_versions": "count",
    "tablefmt.files_scanned_per_lookup": "count",
    "tablefmt.files_rewritten_per_write": "count",
    "write_amp": "x",
    "space_amp": "x",
}
# Library calls timed per call in the traced run's report.
TIMED_CALLS = (
    "registry.construct", "io.load_table", "util.fan_out", "util.lineage_cap",
    "util.knn_exact", "stash.get", "stash.mget", "stash.get_fields",
    "stash.scan_range", "stash.add", "stash.persist_to", "tablefmt.snapshot",
    "tablefmt.read", "tablefmt.append", "tablefmt.merge", "tablefmt.delete",
    "tablefmt.optimize", "spark.action",
)
WORKLOADS = ("olap_headline", "kv_mixed")
MIB = 1024.0 * 1024.0


def say(*parts) -> None:
    print("perfbench:", *parts, flush=True)


def prepare_env(work: str) -> int:
    """Production defaults, and every temporary file inside ``work``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = os.environ.get("JDK_JAVA_OPTIONS", "")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the checkout
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip())
    os.chdir(work)  # relative writes (warehouse, metastore) stay in work
    return nproc


def start_spark():
    from biggie_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched."""
    import probes
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    left = probes.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in left):
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            break
        time.sleep(0.05)


def install_wrappers(tracer) -> None:
    """Spans around the library's public functions, from outside it.  Op
    modules bound ``load_table``/``fan_out`` by name at import, so every
    imported ``biggie_spark`` module's namespace is patched too."""
    from biggie_spark import io, util
    from biggie_spark.stash import Stash
    from biggie_spark.tablefmt import BTable

    tracer.patch_function(io, "load_table", "io.load_table", "biggie_spark")
    for fn in ("fan_out", "lineage_cap", "knn_exact"):
        tracer.patch_function(util, fn, f"util.{fn}", "biggie_spark")
    tracer.patch_methods(
        Stash, ["get", "mget", "get_fields", "scan_range", "add", "persist_to"], "stash"
    )
    tracer.patch_methods(
        BTable, ["read", "snapshot", "append", "merge", "delete", "optimize"], "tablefmt"
    )
    tracer.installed = True


# ------------------------------------------------------------------ metrics
def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _by_kind(ops) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in ops:
        out.setdefault(r["kind"], []).append(r["latency"])
    return out


def e2e(ops, per_pass) -> dict[str, float]:
    from summary import pass_total

    lat = [r["latency"] for r in ops]
    reads = [r["latency"] for r in ops if not r["write"]]
    return {
        "ops_per_s": len(lat) / sum(lat),
        "read_p50_ms": float(np.percentile(reads, 50)) * 1000.0,
        "pass_total_s": pass_total(_by_kind(ops), per_pass),
    }


def write_amp_of(ops) -> float:
    from summary import write_amp

    w = [r for r in ops if "submitted" in r]
    return write_amp(
        sum(r["bt_bytes"] + r["stash_bytes"] for r in w), sum(r["submitted"] for r in w)
    )


def report(ops, extra) -> None:
    """What the final line cannot hold: sample counts, the highest
    supported percentile, latency by op type, and storage figures."""
    from summary import highest_supported, space_amp

    lat = [r["latency"] for r in ops]
    top = highest_supported(len(lat))
    say(f"samples n={len(lat)} highest supported percentile p{top}")
    say(f"op_p50_ms {np.percentile(lat, 50) * 1000.0:.3f} ms (n={len(lat)})")
    if top is not None and top > 50:
        say(f"op_p{top:g}_ms {np.percentile(lat, top) * 1000.0:.3f} ms (n={len(lat)})")
    for label, sel in (("read", False), ("write", True)):
        xs = [r["latency"] for r in ops if r["write"] is sel]
        if xs:
            say(f"{label}_p50_ms {np.percentile(xs, 50) * 1000.0:.3f} ms (n={len(xs)})")
    for kind, xs in sorted(_by_kind(ops).items()):
        say(f"op {kind} median_ms {statistics.median(xs) * 1000.0:.3f} n={len(xs)}")
    if "disk_bytes" in extra:
        say(f"write_amp {write_amp_of(ops):.4f} x")
        say(f"space_amp {space_amp(extra['disk_bytes'], extra['live_logical_bytes']):.4f} x")
        say(f"log_versions {extra['log_versions']} files_live {extra['files_live']}")


def layer_metrics(run, tracer) -> dict[str, float]:
    from probes import PHASES
    from summary import space_amp

    traced = run.ops
    n = len(traced)
    wall = sum(r["latency"] for r in traced)
    cnt = [r["counters"] for r in traced]
    calls = tracer.by_name()
    layer = tracer.layer_self()
    phases = [r.get("phases", {}) for r in traced]
    ex = run.extra
    m = {
        "spark.jobs_per_op": _mean(c["jobs"] for c in cnt),
        "spark.stages_per_op": _mean(c["stages"] for c in cnt),
        "spark.tasks_per_op": _mean(c["tasks"] for c in cnt),
        "spark.failed_tasks": sum(c["failed_tasks"] for c in cnt),
        "spark.action_ms": layer.get("spark", 0.0) / n * 1000.0,
        "proc.cpu_util": ex["cpu_util"],
        "registry.construct_jobs": (
            _mean(r["construct_jobs"] for r in traced) if "registry.construct" in calls else 0.0
        ),
        "stash.tasks_per_get": _mean(
            r["counters"]["tasks"] for r in traced if r["kind"] == "stash_get"
        ),
        "stash.bytes_written": sum(r.get("stash_bytes", 0) for r in traced) / MIB,
        "tablefmt.bytes_written": sum(r.get("bt_bytes", 0) for r in traced) / MIB,
        "tablefmt.files_live": ex.get("files_live", 0),
        "tablefmt.log_versions": ex.get("log_versions", 0),
        "tablefmt.files_scanned_per_lookup": _mean(
            r["files_scanned"] for r in traced if "files_scanned" in r
        ),
        "tablefmt.files_rewritten_per_write": _mean(
            r["files_rewritten"] for r in traced if "files_rewritten" in r
        ),
        "write_amp": write_amp_of(run.ops),
        "space_amp": space_amp(ex.get("disk_bytes", 0), ex.get("live_logical_bytes", 0)),
    }
    for p in PHASES:
        m[f"spark.{p}_ms"] = _mean(ph[p] for ph in phases if p in ph)
    for name in ("registry", "io", "util", "stash", "tablefmt"):
        m[f"{name}.self_pct"] = layer.get(name, 0.0) / wall * 100.0
    for fn in ("io.load_table", "util.fan_out", "util.lineage_cap", "util.knn_exact"):
        m[f"{fn}_calls"] = calls.get(fn, {}).get("calls", 0) / n
    for name in TIMED_CALLS:
        if name in calls:
            c = calls[name]
            say(f"layer {name}_ms mean {c['total_s'] / c['calls'] * 1000.0:.3f} "
                f"self {c['self_s'] / c['calls'] * 1000.0:.3f} calls={c['calls']}")
    say("traced " + " ".join(f"{k} {v:.4f}" for k, v in e2e(traced, ex["per_pass"]).items()))
    return {k: m[k] for k in PER_LAYER}


# --------------------------------------------------------------------- main
def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    t0 = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "biggie_spark", "session.py")):
        print(f"perfbench: no biggie_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import probes
    import workloads
    from spans import Tracer

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    spark = None
    try:
        nproc = prepare_env(work)
        host0 = probes.host_snapshot()
        stages: dict[str, float] = {}
        mark = [t0]

        def timer(stage: str) -> None:
            now = time.perf_counter()
            stages[stage] = now - mark[0]
            mark[0] = now

        def factory():
            s = start_spark()
            timer("session")
            return s

        setup = workloads.olap_setup if args.workload == "olap_headline" else workloads.kv_setup
        body = workloads.olap_headline if args.workload == "olap_headline" else workloads.kv_mixed
        spark, inputs = setup(factory, work, args.seed, timer)
        tracer = Tracer()
        if args.trace:
            install_wrappers(tracer)
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        me = os.getpid()
        body(run, inputs, timer)
        setup_s = sum(stages.values())
        host1 = probes.host_snapshot()
        peak = probes.peak_rss_mb([me] + probes.descendants(me))
        say(f"host nproc={nproc} loadavg_1m start={host0['loadavg_1m']:.2f} "
            f"end={host1['loadavg_1m']:.2f} steal_share={probes.steal_share(host0, host1):.4f}")
        say("setup " + " ".join(f"{k}={v:.3f}s" for k, v in stages.items()))
        say(f"peak_rss_mb {peak:.1f} MiB (sum of Python and JVM VmHWM)")
        say(f"workload {args.workload} seed={args.seed} cycles={run.extra['cycles']} "
            f"attempted={run.attempted} failed={run.failed} "
            f"fail_frac={run.failed / run.attempted:.4f}")
        for e in run.errors[:20]:
            say("FAILED", e)
        report(run.ops, run.extra)
        if args.trace:
            metrics = layer_metrics(run, tracer)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            out = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(out)
            say(f"spans {len(tracer.spans)} written to {os.path.relpath(out, ROOT)}")
            units = PER_LAYER
        else:
            metrics = e2e(run.ops, run.extra["per_pass"])
            metrics["setup_s"] = setup_s
            units = E2E
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
