"""Run one benchmark workload on one seed.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine package ``hawk_pack_spark`` is
imported from there; without it the run exits with code 2 and prints no
result. Every file the run writes (Spark scratch, the serving manifest,
the compiled native kernel) goes under ``.perfbench_work/`` in the root
and is removed at the end, except a traced run's span file
``.perfbench_work/spans/<run id>.jsonl``.

Output: summary lines, one ``{"report": ...}`` JSON line with everything
measured, and as the last line the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "churn")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny sizes, for the harness's own smoke tests")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def prepare_environment(workdir: str) -> None:
    """Pin the driver's BLAS to the core count and keep every file the
    run (and the JVM and Python workers it starts) writes under
    ``workdir``. Must run before numpy or Spark is loaded."""
    cores = str(len(os.sched_getaffinity(0)))
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = cores
    for sub in ("local", "tmp", "warehouse", "native"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(workdir, "warehouse"),
        "SPARK_GRAFT_NATIVE_DIR": os.path.join(workdir, "native"),
        "TMPDIR": os.path.join(workdir, "tmp"),
        # the short-lived launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData -Djava.io.tmpdir="
                               + os.path.join(workdir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def stop_spark(run) -> None:
    """Stop the session, then the JVM this process launched, and wait until
    every process below this one has ended."""
    from pyspark import SparkContext

    from perfbench.machine import descendants

    if run.spark is not None:
        run.spark.stop()
    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)}
        time.sleep(0.1)
    for p in procs:
        os.kill(p, 9)


def remove_workdir(workdir: str) -> None:
    """Remove the run's directory, and ``.perfbench_work`` if that leaves
    it empty."""
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(workdir))
    except OSError:
        pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv=None) -> int:
    args = parse_args(argv)
    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    prepare_environment(workdir)
    sys.path.insert(0, ROOT)
    try:
        import hawk_pack_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        remove_workdir(workdir)
        return 2

    from perfbench import machine, report, workloads

    env = {"start": machine.snapshot(), **machine.versions()}
    sizes = workloads.TINY if args.tiny else workloads.FULL
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), sizes, workdir)
    try:
        with machine.RssSampler() as rss:
            bundle, live = None, None
            for i in range(sizes.setups):
                bundle, live = workloads.set_up(run, first=i == 0)
            getattr(workloads, args.workload)(run, bundle, live)
            run.tracer.harvest()
        e2e = report.end_to_end(run, rss.peak_mb)
        layer = report.per_layer(run) if run.traced else None
    finally:
        stop_spark(run)
        remove_workdir(workdir)
    env["end"] = machine.snapshot()
    env["native"] = run.info.get("native")

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sizes": dataclasses.asdict(sizes),
        "env": env, "named": report.named(run),
        "failures": {op: sorted(c) for op, c in run.failures.items()},
        "shards": run.info.get("shards"),
        "dispatch_paths": run.info["paths"],
        "samples": run.samples,
        "rounds": run.info["rounds"],
        "contrasts": run.info["contrasts"],
        "storage_mb_after_op": run.info["storage_mb"],
        "accounting": report.accounting(run),
    }
    if run.traced:
        # the same end-to-end figures under tracing; set against an
        # untraced run of the same seed they give the tracing overhead
        detail["e2e_under_trace"] = e2e
        detail["harness_s"] = run.tracer.harness_s
        spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{run.tracer.run_id}.jsonl"), "w") as fh:
            for rec in run.tracer.to_records():
                fh.write(json.dumps(rec) + "\n")
    for line in report.text_lines(run, e2e, layer):
        print(line)
    print(json.dumps({"report": detail}))
    metrics = layer if run.traced else e2e
    units = report.layer_metrics() if run.traced else report.E2E
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
