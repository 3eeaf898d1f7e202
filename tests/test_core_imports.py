"""The package core is the paper's pipeline: pages -> extract_and_parse ->
reconcile -> streaming.resume, plus its sources, relational surface and
mutation operators. Importing every core module must load nothing else
from the package, so no core module depends on an auxiliary operator."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "invoice_ocr_reconciler_spark"

CORE = sorted(
    [
        PKG,
        f"{PKG}.datagen",
        f"{PKG}.pipeline",
        f"{PKG}.session",
        f"{PKG}.util",
        f"{PKG}.extraction",
        f"{PKG}.extraction.html_extract",
        f"{PKG}.extraction.udfs",
        f"{PKG}.functions",
        f"{PKG}.functions.normalize",
        f"{PKG}.functions.parse_fields",
        f"{PKG}.functions.report",
        f"{PKG}.operators",
        f"{PKG}.operators.mutate",
        f"{PKG}.operators.reconcile",
        f"{PKG}.plans",
        f"{PKG}.plans.relational",
        f"{PKG}.sources",
        f"{PKG}.sources.pages",
        f"{PKG}.sources.registers",
        f"{PKG}.sources.reports",
        f"{PKG}.streaming",
        f"{PKG}.streaming.resume",
    ]
)


def test_core_imports_only_core():
    code = (
        "import importlib, json, sys\n"
        f"for m in {CORE!r}:\n"
        "    importlib.import_module(m)\n"
        f"print(json.dumps(sorted(k for k in sys.modules if k == {PKG!r} "
        f"or k.startswith({PKG + '.'!r}))))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=REPO, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    loaded = json.loads(proc.stdout.strip().splitlines()[-1])
    assert loaded == CORE, sorted(set(loaded) ^ set(CORE))
