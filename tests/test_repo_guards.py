"""Guards on the repository's own tooling: the slow-tier manifest key,
the round-close gate file, and script paths cited from code."""

from __future__ import annotations

import importlib.util
import json
import os
import re

import pytest

from tests.conftest import _slow_key

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_slow_key_keeps_whole_param_ids():
    """The manifest key is the file basename plus the WHOLE ``::``
    suffix, so a parameter id containing ``/`` (URL cases) still
    matches its manifest line, from any invocation directory."""
    url_id = (
        "tests/test_web.py::test_url_normalize_cases"
        "[https://site.org/a/b///-https://site.org/a/b]"
    )
    assert _slow_key(url_id) == (
        "test_web.py::test_url_normalize_cases"
        "[https://site.org/a/b///-https://site.org/a/b]"
    )
    assert _slow_key("repo/tests/test_bpe.py::test_x") == "test_bpe.py::test_x"
    assert _slow_key("test_bpe.py::test_x") == "test_bpe.py::test_x"
    assert _slow_key("tests/test_bpe.py::Cls::test_x[a/b]") == (
        "test_bpe.py::Cls::test_x[a/b]"
    )
    # distinct URL parameters stay distinct keys
    assert _slow_key(url_id) != _slow_key(
        "tests/test_web.py::test_url_normalize_cases"
        "[https://site.org:443/x-https://site.org/x]"
    )


def _load_round_close():
    spec = importlib.util.spec_from_file_location(
        "round_close", os.path.join(REPO, "scripts", "round_close.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "content", [b"{not json", b"", b"[1, 2]", b'"green"', b"\xff\xfe"]
)
def test_round_close_corrupt_gate_file_means_no_green_close(
    tmp_path, monkeypatch, capsys, content
):
    """A corrupt or non-object gate file reads as "no green close
    recorded": --bench-only is refused (exit 2), the close never
    crashes on it."""
    rc = _load_round_close()
    gate = tmp_path / "gates.json"
    gate.write_bytes(content)
    monkeypatch.setattr(rc, "GATE_STATE", str(gate))
    assert rc._load_gate_state() is None
    monkeypatch.setattr("sys.argv", ["round_close.py", "7", "--bench-only"])
    assert rc.main() == 2
    assert "--bench-only refused" in capsys.readouterr().out


def test_round_close_gate_file_roundtrip(tmp_path, monkeypatch):
    rc = _load_round_close()
    gate = tmp_path / "gates.json"
    monkeypatch.setattr(rc, "GATE_STATE", str(gate))
    assert rc._load_gate_state() is None  # missing
    state = {"round": 7, "head": "abc", "pytest_green": True}
    gate.write_text(json.dumps(state))
    assert rc._load_gate_state() == state


def test_cited_scripts_exist():
    """Every ``scripts/<name>.py`` cited from the engine or the scripts
    themselves exists — a deleted script must not leave a dangling
    pointer in a docstring."""
    pat = re.compile(r"scripts/([A-Za-z0-9_]+\.py)")
    cited: dict[str, str] = {}
    roots = [os.path.join(REPO, "metalpipe_spark"), os.path.join(REPO, "scripts")]
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for name in files:
                if not name.endswith(".py"):
                    continue
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    for m in pat.finditer(f.read()):
                        cited.setdefault(m.group(1), path)
    assert "train_langid.py" in cited  # the scan sees real citations
    missing = {
        name: src
        for name, src in cited.items()
        if not os.path.isfile(os.path.join(REPO, "scripts", name))
    }
    assert not missing, missing
