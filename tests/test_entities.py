"""Tier-1: the canonical-entity dictionary (sources/entities.py)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_surface_pattern_does_not_depend_on_hash_seed():
    """Equal-length surfaces used to keep set order, which changes with
    PYTHONHASHSEED; the pattern is also baked into memoized SQL text."""
    code = "from jsonld_spark.sources.entities import surface_pattern; print(surface_pattern())"
    patterns = {
        subprocess.run(
            [sys.executable, "-c", code], cwd=REPO_ROOT, check=True, capture_output=True,
            text=True, env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout
        for seed in ("1", "2", "3")
    }
    assert len(patterns) == 1
    surfaces = patterns.pop().strip()[1:-1].split("|")
    assert surfaces == sorted(surfaces, key=lambda s: (-len(s), s))
