"""Command-line tools under ``tools/``, run without Spark."""

from __future__ import annotations

import os


def test_core_probe_single_core_count_writes_artifact(tmp_path, monkeypatch):
    """One --cores value: no ratio is computed, the artifact is written."""
    import importlib.util
    import json
    import subprocess
    import sys

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "core_probe.py")
    spec = importlib.util.spec_from_file_location("core_probe", path)
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)

    def fake_run(cmd, **kw):
        return subprocess.CompletedProcess(cmd, 0, stdout="RESULT 2.0 1.5\n", stderr="")

    monkeypatch.setattr(probe.subprocess, "run", fake_run)
    monkeypatch.setattr(probe, "QUERIES", ["u31_semantic_neardup"])
    out = tmp_path / "cores.json"
    monkeypatch.setattr(sys, "argv", ["core_probe", "--cores", "4", "--out", str(out)])
    assert probe.main() == 0
    (cell,) = json.loads(out.read_text())["queries"].values()
    assert list(cell) == ["4"] and cell["4"]["steady_s"] == 1.5
