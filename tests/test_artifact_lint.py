"""Artifact-cache lint: artifacts.cached_artifact is the only code that
keys, places, completes or publishes a persisted artifact.

A builder that stats its own inputs (``st_mtime_ns``), picks its own
location (``gettempdir()``) or trusts a completion marker (``_SUCCESS``)
is a hand-rolled cache again — the copy-paste shape that let builders
serve stale layouts and write straight into paths other processes read.
"""

from __future__ import annotations

import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "flink_realtime_data_eng_spark"
MODULES = sorted(p for p in PKG.rglob("*.py") if p.name != "artifacts.py")


@pytest.mark.parametrize("path", MODULES,
                         ids=lambda p: str(p.relative_to(PKG)))
def test_only_artifacts_keys_and_places_caches(path):
    src = path.read_text()
    for token in ("st_mtime_ns", "gettempdir()"):
        assert token not in src, (
            f"{path.name} uses {token}: build persisted artifacts through "
            "artifacts.cached_artifact")


@pytest.mark.parametrize("path", sorted(PKG.glob("registry_*.py")),
                         ids=lambda p: p.name)
def test_registry_trusts_no_completion_marker(path):
    assert "_SUCCESS" not in path.read_text(), (
        f"{path.name} checks a _SUCCESS marker: an artifact is complete "
        "exactly when cached_artifact's directory exists")
