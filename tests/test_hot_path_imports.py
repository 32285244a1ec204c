"""The airline pipeline's import loads only the modules it runs.

The package ``__init__``s import nothing, so importing the pipeline
(ingest, the seven query families, Tom's trip, serving, the rank fit)
must not pull in the operator library or pandas. Checked in a fresh
interpreter, since this test process has already imported everything.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

PKG = "airline_dataset_hadoop_public_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HOT_PATH = [
    "plans.airline",
    "sources.ingest",
    "sources.serving",
    "analytics",
    "runtime",
    "session",
]

_PROBE = f"""
import importlib, json, sys
for name in {HOT_PATH!r}:
    importlib.import_module({PKG!r} + "." + name)
print(json.dumps({{
    "modules": sorted(m for m in sys.modules if m.split(".")[0] == {PKG!r}),
    "pandas": "pandas" in sys.modules,
}}))
"""


def test_hot_path_loads_only_the_pipeline_modules():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    loaded = json.loads(out.stdout.strip().splitlines()[-1])
    want = {
        PKG,
        *(f"{PKG}.{pkg}" for pkg in ("operators", "plans", "sources")),
        *(
            f"{PKG}.operators.{m}"
            for m in ("aggregates", "argmin", "generators", "topk")
        ),
        *(f"{PKG}.{m}" for m in HOT_PATH),
    }
    assert set(loaded["modules"]) == want
    assert not loaded["pandas"]
