"""Every package module imports as the first package import of a fresh
interpreter. An import cycle between the registry modules shows only
when the wrong module loads first, which an earlier import in the suite
would hide, so each case runs in a subprocess from the checkout that
holds this test."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
MODULES = sorted(
    ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
    for p in (ROOT / "air_quality_etl_pipeline_spark").rglob("*.py")
)


@pytest.mark.parametrize("mod", MODULES)
def test_direct_import_succeeds(mod):
    proc = subprocess.run(
        [sys.executable, "-c", f"import {mod}"],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
