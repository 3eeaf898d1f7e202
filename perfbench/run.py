"""Extract+reconcile benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload delta --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The package is imported from the checkout
(no install step). Inputs come from the package's pure generators, chosen
by ``--seed``; the session is the stock ``get_spark`` on local[nproc]. With
``--trace 0`` the result holds the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics (Spark UI on, spans written to
``.perfbench/traces/``). Every file the run writes stays under
``.perfbench/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Above this share of CPU time taken by the hypervisor during a run, its
# times are not comparable with those of a quiet host (see README.md).
STEAL_LIMIT = 0.03


def _jvm_memory() -> str:
    """A quarter of the box's memory, at most 4 GB: the machine is shared."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def _stop_spark(spark) -> None:
    """Stop the session and the JVM the session started; wait for every
    process under this one to end (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    from tracing import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for pid in _wait_gone(pids, 30):  # Python workers left behind
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(pids, 10)


def _wait_gone(pids: list[int], seconds: float) -> list[int]:
    """Wait until none of ``pids`` runs; returns those still running."""
    deadline = time.monotonic() + seconds
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)
    return pids


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _metric_specs(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny is the self-test's smoke size")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import invoice_ocr_reconciler_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not in this checkout: {exc}", file=sys.stderr)
        return 2
    import tracing as tr
    from workloads import WORKLOADS, Tally

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    specs = _metric_specs(bool(args.trace))

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": _jvm_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        ])),
    })
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})

    machine = {"cores": cores, "jvm_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
               "before": tr.machine_probe()}
    run_cpu = tr.cpu_times()
    workload = WORKLOADS[args.workload](args.size, args.seed)
    tally = Tally()
    rss = tr.RssSampler()
    rss.start()
    spark = None
    try:
        from invoice_ocr_reconciler_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.generate(os.path.join(work, "inputs"))
        generate_s = time.perf_counter() - t0

        if args.trace:
            tracer = tr.Tracer(spark)
            metrics, info = workload.trace(spark, tally, tracer, tr.SparkRest(spark))
            metrics["session.start_s"] = session_s
            tracer.write(
                os.path.join(ROOT, ".perfbench", "traces",
                             f"{args.workload}-{args.size}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "metrics": metrics},
            )
        else:
            metrics, info = workload.run(spark, args.seconds, tally, session_s)
            metrics["setup_s"] = session_s + generate_s
    finally:
        if spark is not None:
            _stop_spark(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        metrics["peak_rss_mb"] = peak_mb
    machine["during"] = tr.cpu_fractions(run_cpu, tr.cpu_times())
    machine["after"] = tr.machine_probe()
    machine["comparable"] = machine["during"]["steal_frac"] <= STEAL_LIMIT
    if not machine["comparable"]:
        print(f"perfbench: hypervisor steal {machine['during']['steal_frac']:.1%} "
              f"above {STEAL_LIMIT:.0%}: times not comparable", file=sys.stderr)

    info.update(workload=args.workload, seed=args.seed, size=args.size, machine=machine,
                session_s=session_s, generate_s=generate_s, memory_at_peak=rss.at_peak,
                failures=tally.failures[:20])
    print("perfbench " + json.dumps(info, default=str))
    missing = sorted(set(specs) - set(metrics))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in specs.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
