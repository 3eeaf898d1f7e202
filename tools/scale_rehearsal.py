"""sf0.1 -> sf1 scale rehearsal of the shuffle-heavy top queries.

Runs each query on the Heaps/Zipf rehearsal corpora (tools/gen_scale.py)
at two sizes (default 5k and 50k documents — the driver's sf0.1 density
and 10x it), records wall seconds + executed shuffle bytes + task skew
via the UI REST API (tools/exec_metrics.py), and reports the scaling
exponent alpha where cost ~ n^alpha:

    alpha = log(cost_big / cost_small) / log(n_big / n_small)

alpha ~ 1 is linear, ~1.2 is n log n territory at this range, >= 1.7
flags superlinear candidate growth a static plan audit cannot see.
Wall-clock alpha on a warm local[32] JVM under-states fixed overheads,
so SHUFFLE BYTES alpha is the primary scale signal (pure data volume,
no JIT/scheduler noise); wall alpha is reported alongside.

Usage:
    python tools/gen_scale.py dist/scale/n5k 5000
    python tools/gen_scale.py dist/scale/n50k 50000
    python tools/scale_rehearsal.py [query ...]

Prints one JSON line per query and a final summary JSON.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "bt_strengths",
    "scc",
    "corpus_build",
    "semantic_dedup",
    "trust_rank",
    "minhash_quality",
]

SMALL = os.environ.get("REHEARSAL_SMALL", "dist/scale/n5k")
BIG = os.environ.get("REHEARSAL_BIG", "dist/scale/n50k")
RATIO = float(os.environ.get("REHEARSAL_RATIO", "10"))


def main() -> None:
    names = sys.argv[1:] or HEAVY
    from exec_metrics import ExecMetrics

    import __spark_entry__ as entry
    from invoice_ocr_reconciler_spark.session import get_spark

    spark = get_spark(
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "5000",
            "spark.ui.retainedJobs": "5000",
        }
    )
    em = ExecMetrics(spark)
    qs = entry.queries()
    rows = []
    for name in names:
        per = {}
        for label, d in (("small", SMALL), ("big", BIG)):
            m = em.run(f"{name}@{label}", lambda: qs[name](spark, d))
            per[label] = m
            print(
                json.dumps(
                    {
                        "query": name,
                        "corpus": label,
                        "wall_sec": m.wall_sec,
                        "rows": m.rows,
                        "shuffle_rw_bytes": m.shuffle_read_bytes
                        + m.shuffle_write_bytes,
                        "max_task_skew": m.max_task_skew,
                        "max_shuffle_skew": m.max_shuffle_skew,
                    }
                ),
                flush=True,
            )
        s, b = per["small"], per["big"]
        sh_s = s.shuffle_read_bytes + s.shuffle_write_bytes
        sh_b = b.shuffle_read_bytes + b.shuffle_write_bytes
        rows.append(
            {
                "query": name,
                "wall_small": s.wall_sec,
                "wall_big": b.wall_sec,
                "wall_alpha": round(
                    math.log(max(b.wall_sec, 1e-9) / max(s.wall_sec, 1e-9))
                    / math.log(RATIO),
                    2,
                ),
                "shuffle_small": sh_s,
                "shuffle_big": sh_b,
                "shuffle_alpha": round(
                    math.log(max(sh_b, 1) / max(sh_s, 1)) / math.log(RATIO), 2
                )
                if sh_s > 0
                else None,
                "skew_big": b.max_shuffle_skew,
            }
        )
    print(json.dumps({"scale_rehearsal": rows}, indent=1), flush=True)


if __name__ == "__main__":
    main()
