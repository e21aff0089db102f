"""Smoke test of ``scripts/identity_digest.py``: one spec on a ~60-doc
corpus through build, delete, both merges and consolidate."""

from __future__ import annotations

import importlib.util
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _script():
    spec = importlib.util.spec_from_file_location(
        "identity_digest", os.path.join(REPO, "scripts", "identity_digest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_identity_digest_smoke(spark, tmp_path):
    mod = _script()
    out = mod.digest(spark, 60, ["code"], work_dir=str(tmp_path))
    assert out["docs"] == 60 + len(mod.EDGE_DOCS)
    steps = out["digest"]["code"]
    assert list(steps) == list(mod.STEPS)
    for step in steps.values():
        assert set(step) == {"manifest", "segments", "search"}
        assert all(re.fullmatch("[0-9a-f]{64}", v) for v in step.values())
    # a tombstone is a manifest and deletes-table change: segments stay
    assert steps["delete"]["segments"] == steps["build"]["segments"]
    assert steps["delete"]["manifest"] != steps["build"]["manifest"]
    assert steps["merge_0_3"]["segments"] != steps["delete"]["segments"]
    # the work directory is removed
    assert not os.listdir(tmp_path)
