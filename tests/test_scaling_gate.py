"""tools/scaling_gate.py: the launcher stops cleanly once every pair tag
already has its artifacts."""

import importlib.util
from pathlib import Path

_SRC = Path(__file__).resolve().parent.parent / "tools" / "scaling_gate.py"


def _gate():
    spec = importlib.util.spec_from_file_location("scaling_gate", _SRC)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_exits_when_all_tags_used(tmp_path, monkeypatch, capsys):
    gate = _gate()
    (tmp_path / "BENCH").mkdir()
    for t in "abcdefg":
        (tmp_path / f"BENCH/scaling_details_r5{t}.json").write_text("{}")
    monkeypatch.setattr(gate, "REPO", tmp_path)
    monkeypatch.setattr(gate, "poll_membw", lambda log_path: {})
    monkeypatch.setattr(gate, "window_ok", lambda rec, gate, min_gbps: True)
    monkeypatch.setattr(gate.time, "sleep", lambda s: None)

    def no_pair(tag):
        raise AssertionError(f"launched a pair over used tag {tag}")

    monkeypatch.setattr(gate, "run_pair", no_pair)
    monkeypatch.setattr("sys.argv", ["scaling_gate.py"])
    assert gate.main() == 1
    assert "nothing left to launch" in capsys.readouterr().out
