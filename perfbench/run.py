#!/usr/bin/env python3
"""CDC benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload trickle_backup --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout and writes only under
``<root>/.perfbench``. Prints one short summary line, then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The full result (load, cpus, revision, every metric, oracle checks,
digests) goes to ``.perfbench/results/<workload>-seed<n>-trace<t>.json``.
A run whose call raised still writes both, with ``correct`` false and
empty metrics, and exits 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

from mysql_binlog_spark.session import get_spark  # noqa: E402

from perfbench.inputs import ensure_changelog  # noqa: E402
from perfbench.layers import LAYER_UNITS, per_layer  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

E2E = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "commit_s_p50": "s",
    "readback_rows_per_s": "1/s",
    "lookup_s_p50": "s",
    "out_bytes_per_row": "B",
    "peak_rss_mb": "MB",
}

QUIET_BUSY = 0.25  # machine counts as quiet below this CPU busy fraction
QUIET_MAX_WAIT_S = 15.0


def _cpu_times() -> tuple[int, int]:
    vals = _stat()
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle, sum(vals)


def _stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def wait_quiet() -> tuple[float, float]:
    """Wait (bounded) until the whole machine's CPU busy fraction over
    half a second drops below ``QUIET_BUSY``. Returns (waited, busy)."""
    t0 = time.monotonic()
    while True:
        b0, a0 = _cpu_times()
        time.sleep(0.5)
        b1, a1 = _cpu_times()
        busy = (b1 - b0) / max(a1 - a0, 1)
        if busy < QUIET_BUSY or time.monotonic() - t0 > QUIET_MAX_WAIT_S:
            return time.monotonic() - t0, busy


def settle(spark) -> None:
    """Full collections in both processes, so a measured phase does not
    inherit the previous phase's garbage."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def revision() -> tuple[str, str]:
    """(git SHA or 'none', sha256 of the package sources)."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        sha = "none"
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "mysql_binlog_spark")
    for dirpath, dirs, names in os.walk(pkg):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return sha, h.hexdigest()[:16]


def start_spark(work: str, cpus: int, traced: bool):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work, "spark-local")
    # the environment variable overrides spark.local.dir, so set both
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap without adaptive resizing keeps collections alike
        # from run to run; no perf-data file outside the checkout
        "spark.driver.extraJavaOptions": (
            "-XX:+UseParallelGC -Xms2g -XX:-UseAdaptiveSizePolicy "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _remove_dead_runs(runs: str) -> None:
    """Delete the work dirs of earlier runs whose process is gone (a run
    that was killed cannot clean up after itself)."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    cache = os.path.join(base, "cache")
    results = os.path.join(base, "results")
    for d in (cache, results):
        os.makedirs(d, exist_ok=True)
    _remove_dead_runs(os.path.dirname(work))
    os.makedirs(work)

    cpus = len(os.sched_getaffinity(0))
    wl_cls = WORKLOADS[args.workload]
    quiet_wait_s = busy_start = None
    load_start, stat_start = os.getloadavg(), _stat()
    t_run = time.monotonic()
    timed_s = 0.0
    spark = ctx = error = None
    try:
        # inputs are built (or read from the cache) before the clock
        # starts: the run that generates a seed's changelog pays nothing
        # for it that a later run of the same seed does not
        t_inputs = time.monotonic()
        log = ensure_changelog(cache, wl_cls.plan(args.seconds, args.size), args.seed)
        inputs_s = time.monotonic() - t_inputs
        quiet_wait_s, busy_start = wait_quiet()
        load_start, stat_start = os.getloadavg(), _stat()
        t_run = time.monotonic()
        spark = start_spark(work, cpus, traced)
        tracer = Tracer(spark, traced)
        ctx = Ctx(spark, tracer, work, cache, args.seed, args.seconds, args.size)
        ctx.info.update(inputs_s=inputs_s, inputs_cached=log.cached,
                        session_s=time.monotonic() - t_run)
        wl = wl_cls(ctx, log)
        wl.setup()
        setup_s = time.monotonic() - t_run

        t_oracle = time.monotonic()
        wl.oracle()  # outside both setup and timing
        ctx.info["oracle_s"] = time.monotonic() - t_oracle
        tracer.spans.clear()
        for io in ctx.ios:
            io.ops.clear()
            io.seconds, io.conflicts = 0.0, 0

        settle(spark)
        tracer.phase = "timed"
        t_timed = time.monotonic()
        wl.run()
        timed_s = time.monotonic() - t_timed
        settle(spark)
        t_probe = time.monotonic()
        tracer.phase = "probe"
        wl.probes()
        ctx.info["probes_s"] = time.monotonic() - t_probe
        if traced:
            tracer.phase = "extra"
            wl.traced_extra()

        ctx.e2e["setup_s"] = setup_s
        ctx.e2e["peak_rss_mb"] = _hwm_mb("self") + _hwm_mb(SparkContext._gateway.proc.pid)
        stop_spark(spark)
        spark = None
        if traced:
            ctx.layer = per_layer(ctx, os.path.join(work, "eventlog"), timed_s, cpus)
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
    run_wall_s = time.monotonic() - t_run
    load_end = os.getloadavg()
    delta = [b - a for a, b in zip(stat_start, _stat())]
    # CPU time taken by the hypervisor from this machine during the run
    steal_frac = delta[7] / max(sum(delta), 1)
    sha, src = revision()

    attempted = ctx.attempted if ctx else 0
    failed = ctx.failed if ctx else 0
    if error is not None and failed == 0:
        # raised outside a counted call: the run itself is the failed operation
        attempted, failed = attempted + 1, 1
    got = ctx.e2e if ctx else {}
    setup = got.get("setup_s")
    e2e = {k: {"value": float(got[k]), "unit": u} for k, u in E2E.items() if k in got}
    metrics = e2e
    if traced:
        got = ctx.layer if ctx else {}
        metrics = {
            k: {"value": float(got[k]), "unit": u} for k, u in LAYER_UNITS.items() if k in got
        }
    if error is not None:
        metrics = {}  # a run with a failed call has no trustworthy metrics
    correct = failed == 0
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    full = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "cpus": cpus,
        "git_sha": sha, "source_sha256": src,
        "load_start": list(load_start), "load_end": list(load_end),
        "quiet_wait_s": quiet_wait_s, "busy_at_start": busy_start,
        "steal_frac": steal_frac,
        "run_wall_s": run_wall_s, "setup_s": setup, "timed_s": timed_s,
        "correct": correct, "attempted": attempted, "failed": failed, "error": error,
        "checks": ctx.checks if ctx else {}, "digests": ctx.digests if ctx else {},
        "end_to_end": e2e, "per_layer": metrics if traced else None,
        "info": ctx.info if ctx else {},
    }
    if traced and error is None:
        other = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(other):
            with open(other) as f:
                base_r = json.load(f)
            same = ("source_sha256", "size", "seconds")
            if base_r.get("error") is None and all(base_r.get(k) == full[k] for k in same):
                u = base_r["end_to_end"]["events_per_s"]["value"]
                full["trace_overhead"] = {
                    "untraced_events_per_s": u,
                    "traced_events_per_s": ctx.e2e["events_per_s"],
                    "frac": 1.0 - ctx.e2e["events_per_s"] / u,
                }
    with open(os.path.join(results, name), "w") as f:
        json.dump(full, f, indent=1, default=str)
    if traced:
        keep = os.path.join(results, name.replace(".json", ".eventlog"))
        shutil.rmtree(keep, ignore_errors=True)
        if os.path.isdir(os.path.join(work, "eventlog")):
            shutil.move(os.path.join(work, "eventlog"), keep)
    shutil.rmtree(work, ignore_errors=True)

    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"correct={correct} wall={run_wall_s:.1f}s "
        f"setup={'-' if setup is None else f'{setup:.1f}s'} timed={timed_s:.1f}s "
        f"{'ERROR ' if error else ''}-> .perfbench/results/{name}"
    )
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 1 if error else 0


if __name__ == "__main__":
    sys.exit(main())
