"""Executed-metrics audit gate (tools/plan_audit.py --exec).

Static plan checks cannot see runtime pathologies — superlinear shuffle
volume or one straggler partition doing the whole stage's work. This gate
EXECUTES a representative heavy-query subset at sf0.01 with the UI REST
collector on and asserts:

- no execution errors and no metric-collection errors,
- every pure-codegen query's qualified shuffle skew (max/median task
  shuffle-read over stages with >=8 tasks and >=2 MB) stays under 4x,
- shuffle bytes were actually observed (the collector is live, not
  silently returning zeros).

Runs in a subprocess: the audit needs spark.ui.enabled=true, which
getOrCreate cannot retrofit onto the shared test session.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SUBSET = [
    "skew_salted_agg",
    "k_core",
    "pool_embeddings",
    "sessionize",
    "dedup_exact",
    "scc",
    "anti_join_missing",
    "left_join_enrich",
    "inner_join_agg",
    "amount_tolerance_join",
]


def test_exec_audit_skew_gate():
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "plan_audit.py"),
            "--exec",
            "/root/testdata/sf0.01",
            *SUBSET,
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=900,
    )
    lines = [
        json.loads(ln)
        for ln in out.stdout.splitlines()
        if ln.startswith("{")
    ]
    assert lines, out.stderr[-2000:]
    summary = lines[-1]
    rows = {r["query"]: r for r in lines[:-1]}
    assert summary["codegen_violations"] == [], summary
    assert summary["errors"] == 0
    assert set(rows) == set(SUBSET)
    for name, r in rows.items():
        assert "exec_error" not in r, (name, r)
        assert r["qualified_skew"] <= 4.0, (name, r)
    # the collector saw real shuffle traffic somewhere in the subset
    assert any(r["shuffle_read_bytes"] > 0 for r in rows.values())
    assert out.returncode == 0, out.stderr[-2000:]
