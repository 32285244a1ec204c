"""Every script under scripts/ still loads.

Loading a script runs its module-level imports but not its
``__main__`` block, so a helper removed from the package or from
``bench.py`` fails here instead of on the script's next run.
"""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

SCRIPTS = sorted(
    (pathlib.Path(__file__).resolve().parent.parent / "scripts").glob("*.py")
)


@pytest.mark.parametrize("path", SCRIPTS, ids=[p.stem for p in SCRIPTS])
def test_script_loads(path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
