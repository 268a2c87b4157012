#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload crawl_recrawl --seed 7 \\
        --seconds 12 --trace 0

runs one workload from the root of a checkout and prints, as its last
stdout line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``). The full record of the run (host and
provenance, per-unit walls, the pipeline layer, spans) is written under
``.perfbench/results/``. Inputs, stores and Spark scratch space live
under ``.perfbench/`` too. See NOTES.md for the workloads and metrics.

Other modes:
    --smoke            every workload (or --workload) on tiny inputs,
                       untraced and traced, each in its own process
    --crosscheck       the pipeline layer of one scratch crawl cycle from
                       the status store next to bench._eventlog_metrics
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
NAMES = ("crawl_recrawl", "corpus_funnel")


def _process_start() -> float:
    """This process's start time (epoch s) from /proc."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _environment() -> None:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the package from it. Must run before the JVM
    starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata: the JVM would write it to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    sys.path[:0] = [ROOT, HERE]


def _stop_everything() -> None:
    """Stop Spark and its JVM, then wait until no child process is left."""
    from pyspark import SparkContext

    from measure import _proc_stats, _tree
    from spark_frontier.session import stop_spark

    gateway = SparkContext._gateway
    stop_spark()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline:
        if len(_tree(_proc_stats(), os.getpid())) <= 1:
            return
        time.sleep(0.2)
    raise RuntimeError("child processes still running after Spark stopped")


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def run_one(args) -> int:
    t_proc = _process_start()
    from measure import host_record
    from workloads import WORKLOADS, Bench

    b = Bench(root=ROOT, work=WORK, workload=args.workload, seed=args.seed,
              seconds=args.seconds, trace=bool(args.trace), smoke=args.smoke,
              t_proc=t_proc)
    e2e, host = None, None
    try:
        WORKLOADS[args.workload](b)
        e2e = b.finish()
        host = host_record(b.spark, ROOT, with_control=b.trace)
    except Exception:  # reported below as a failed run without a result
        traceback.print_exc(file=sys.stderr)
    finally:
        _stop_everything()
        b.cleanup()
    if e2e is None or (b.trace and not b.layers):
        print("perfbench: the run produced no result", file=sys.stderr)
        return 1

    if b.trace:
        # the layers this workload does not run read 0: every per-layer
        # metric is printed for every workload
        units = _per_layer_units()
        unknown = set(b.layers) - set(units)
        if unknown:
            raise RuntimeError(
                f"layers missing from BENCHMARK.json: {unknown}")
        metrics = {n: {"value": float(b.layers.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "smoke": args.smoke, "host": host,
        "end_to_end": {n: v for n, (v, _) in e2e.items()},
        "layers": b.layers, "detail": b.detail, "spans": b.spans,
        "attempted": b.attempted, "failed": b.failed,
    }
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t"
                           f"{args.trace}-{stamp}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


def run_smoke(args) -> int:
    """Each workload on tiny inputs, untraced and traced, in its own
    process; fails unless every run prints a correct result."""
    names = [args.workload] if args.workload else list(NAMES)
    bad = []
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   name, "--seed", str(args.seed), "--seconds", "1",
                   "--trace", str(trace), "--smoke"]
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  timeout=600)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines \
                else None
            ok = res is not None and res["correct"]
            print(f"{name} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                bad.append(name)
                sys.stderr.write(proc.stderr[-4000:])
    return 1 if bad else 0


def run_crosscheck(args) -> int:
    """One crawl_recrawl cycle, as a run times it, with Spark's
    event log on; prints the status-store pipeline layer of that cycle
    next to bench._eventlog_metrics over the same window."""
    import shutil

    import bench
    from workloads import CORES, Bench, _Recrawl

    import gen

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    b = Bench(root=ROOT, work=WORK, workload="crawl_recrawl", seed=args.seed,
              seconds=0, trace=False, smoke=False, t_proc=time.time())
    try:
        b.start_session({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + log_dir,
                         "spark.eventLog.compress": "false"})
        _, _, _, pipe = _Recrawl(b, gen.RecrawlSpec()).cycle()
    finally:
        _stop_everything()  # flushes and closes the event log
        b.cleanup()
    out = {"status_store": pipe,
           "eventlog": bench._eventlog_metrics(log_dir, b.last_window, CORES)}
    print(json.dumps(out, indent=1))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs; without --trace, runs every workload "
                        "(or --workload) untraced and traced")
    p.add_argument("--crosscheck", action="store_true")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "spark_frontier")):
        print("perfbench: run from a checkout of the repository "
              "(spark_frontier/ not found)", file=sys.stderr)
        return 2
    _environment()
    if args.crosscheck:
        return run_crosscheck(args)
    if args.smoke and "--trace" not in sys.argv:
        return run_smoke(args)
    if args.workload is None:
        p.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
