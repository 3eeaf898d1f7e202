"""Heavy-ten scale rehearsal in SEPARATE-EXECUTOR-JVM mode (round-4).

tools/scale_rehearsal.py measures the shuffle-alpha exponents on local[32]
— one shared JVM heap, which masks per-executor memory blowups (the round-3
semantic_dedup OOM was only visible because 24g happened to be tight for
the whole host; a per-executor broadcast or hot partition that would kill a
6g executor can hide inside a big shared heap). This harness runs the same
ten queries on the same Heaps/Zipf corpora under local-cluster[E, 2, M] —
E genuine executor PROCESSES with their own GC/allocator/Python pool — and
records, per query and corpus size:

  - wall seconds and executed shuffle read+write bytes (the alpha signal),
  - qualified task/shuffle skew (same ExecMetrics collector as the audit),
  - the executors' PEAK JVM heap / execution+storage memory so far (REST
    /executors peakMemoryMetrics) — the "does one executor fit" signal a
    thread-mode rehearsal cannot produce.

One leg per PROCESS (a Spark master is pinned per JVM): run

    python tools/gen_scale.py dist/scale/n5k 5000      # once
    python tools/gen_scale.py dist/scale/n50k 50000    # once
    python tools/scale_rehearsal_exec.py 2 > dist/rehearsal_exec_r4_e2.jsonl
    python tools/scale_rehearsal_exec.py 4 > dist/rehearsal_exec_r4_e4.jsonl

Each line is one query@corpus measurement; the final line is the leg
summary with per-query shuffle alphas (cost ~ n^alpha over the 10x corpus
step).
"""

from __future__ import annotations

import json
import math
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scale_rehearsal import BIG, HEAVY, RATIO, SMALL  # noqa: E402

EXEC_MEM_MB = int(os.environ.get("REHEARSAL_EXEC_MEM_MB", "8192"))


def _executor_peaks(api_base: str) -> dict:
    """Max over live executors of the REST peakMemoryMetrics — cumulative
    per executor lifetime, so per-leg it answers 'did any single executor
    ever need more than X' (the OOM question), not per-query attribution."""
    try:
        with urllib.request.urlopen(f"{api_base}/executors", timeout=30) as r:
            execs = json.loads(r.read().decode())
    except Exception:
        return {}
    peak_heap = peak_exec = 0
    n = 0
    for e in execs:
        if e.get("id") == "driver":
            continue
        n += 1
        pm = e.get("peakMemoryMetrics") or {}
        peak_heap = max(peak_heap, int(pm.get("JVMHeapMemory", 0)))
        peak_exec = max(
            peak_exec,
            int(pm.get("OnHeapExecutionMemory", 0))
            + int(pm.get("OnHeapStorageMemory", 0)),
        )
    return {
        "n_executors": n,
        "peak_jvm_heap_bytes": peak_heap,
        "peak_exec_storage_bytes": peak_exec,
    }


def main() -> None:
    executors = int(sys.argv[1])
    names = sys.argv[2:] or HEAVY

    from exec_metrics import ExecMetrics

    import __spark_entry__ as entry
    from invoice_ocr_reconciler_spark.session import get_spark

    # Round 4 ran this harness with a hand-pinned 64 partitions because the
    # then-stock session default (2 x total cores = 8 for local-cluster[2,2])
    # handed each task a 1/8 slice of a 50k-doc shuffle and the per-task
    # BytesToBytesMap blew the 8g executor budget (UNABLE_TO_ACQUIRE_MEMORY
    # on containment_pairs@50k — the failure class thread-mode local[32]
    # masks, because there 64 partitions come free with the core count).
    # Round 5 floored the stock width at 64; the floor is gone again, because
    # the core pipeline has no pair-join hash map and runs the same at
    # 2 x cores (PLANS.md 'Round-5: stock shuffle sizing'). The harness runs
    # stock defaults; to rerun these auxiliary heavies at the round-5 width,
    # set REHEARSAL_SHUFFLE_PARTITIONS=64 (or 8 to reproduce the round-4 OOM).
    shuffle_env = os.environ.get("REHEARSAL_SHUFFLE_PARTITIONS")
    shuffle_parts = int(shuffle_env) if shuffle_env else None
    spark = get_spark(
        app_name=f"rehearsal-exec-{executors}",
        cores=2,
        executors=executors,
        executor_mem_mb=EXEC_MEM_MB,
        shuffle_partitions=shuffle_parts,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "5000",
            "spark.ui.retainedJobs": "5000",
        },
    )
    em = ExecMetrics(spark)
    qs = entry.queries()
    rows = []
    for name in names:
        per = {}
        for label, d in (("small", SMALL), ("big", BIG)):
            try:
                m = em.run(f"{name}@{label}", lambda: qs[name](spark, d))
            except Exception as exc:  # keep hunting: a blowup IS the result
                rec = {
                    "executors": executors,
                    "query": name,
                    "corpus": label,
                    "error": str(exc)[:400],
                }
                rec.update(_executor_peaks(em.api))
                print(json.dumps(rec), flush=True)
                continue
            per[label] = m
            rec = {
                "executors": executors,
                "query": name,
                "corpus": label,
                "wall_sec": m.wall_sec,
                "rows": m.rows,
                "shuffle_rw_bytes": m.shuffle_read_bytes + m.shuffle_write_bytes,
                "max_task_skew": m.max_task_skew,
                "max_shuffle_skew": m.max_shuffle_skew,
            }
            rec.update(_executor_peaks(em.api))
            print(json.dumps(rec), flush=True)
        if "small" not in per or "big" not in per:
            rows.append({"query": name, "error": "leg failed (see lines)"})
            continue
        s, b = per["small"], per["big"]
        sh_s = s.shuffle_read_bytes + s.shuffle_write_bytes
        sh_b = b.shuffle_read_bytes + b.shuffle_write_bytes
        rows.append(
            {
                "query": name,
                "wall_small": s.wall_sec,
                "wall_big": b.wall_sec,
                "shuffle_alpha": round(
                    math.log(max(sh_b, 1) / max(sh_s, 1)) / math.log(RATIO), 2
                )
                if sh_s > 0
                else None,
                "skew_big": b.max_shuffle_skew,
            }
        )
    print(
        json.dumps(
            {
                "executors": executors,
                "exec_mem_mb": EXEC_MEM_MB,
                "shuffle_partitions": (
                    shuffle_parts if shuffle_parts is not None else "stock"
                ),
                "session_shuffle_partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions"
                ),
                "rehearsal_exec": rows,
                "final_peaks": _executor_peaks(em.api),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
