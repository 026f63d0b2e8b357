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


CASTS = {"bool", "float", "int", "list", "str", "tuple"}


def _restated_defaults(repo: str) -> list[str]:
    """``k=opts.get("k", d)`` keyword arguments in the YAML node adapters
    (``@node_class`` functions of plans/pipeline.py) whose ``d`` equals
    the default of the called operator's own parameter ``k`` — a second
    copy of an option default that the node binder already reads from
    the operator's signature.  Operators are resolved through the
    adapters' ``from metalpipe_spark... import`` lines and read with
    ``ast``, so the scan needs no Spark."""
    import ast

    def parse(path):
        with open(path, encoding="utf-8") as f:
            return ast.parse(f.read())

    def value(node):
        # Constant expressions (``1 << 18``) evaluate; a default that
        # names something (a sentinel) equals nothing an adapter writes.
        try:
            return eval(compile(ast.Expression(node), "<default>", "eval"), {})
        except NameError:
            return object()

    pipeline = os.path.join(repo, "metalpipe_spark", "plans", "pipeline.py")
    tree = parse(pipeline)
    imports = {
        alias.asname or alias.name: (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("metalpipe_spark")
        for alias in node.names
    }
    defaults_of: dict[tuple[str, str], dict] = {}

    def operator_defaults(module: str, name: str) -> dict:
        if (module, name) not in defaults_of:
            path = os.path.join(repo, *module.split(".")) + ".py"
            fn = next(
                n for n in parse(path).body
                if isinstance(n, ast.FunctionDef) and n.name == name
            )
            args = fn.args.posonlyargs + fn.args.args
            pairs = list(zip(args[len(args) - len(fn.args.defaults):], fn.args.defaults))
            pairs += [(a, d) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d]
            defaults_of[(module, name)] = {a.arg: value(d) for a, d in pairs}
        return defaults_of[(module, name)]

    sites = []
    adapters = [
        fn for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        and any(
            isinstance(d, ast.Call) and getattr(d.func, "id", "") == "node_class"
            for d in fn.decorator_list
        )
    ]
    assert len(adapters) > 30, "the scan must see the node adapters"
    for fn in adapters:
        for call in ast.walk(fn):
            if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Name)
                    and call.func.id in imports):
                continue
            defaults = operator_defaults(*imports[call.func.id])
            for kw in call.keywords:
                v = kw.value
                while (isinstance(v, ast.Call) and getattr(v.func, "id", "") in CASTS
                       and len(v.args) == 1):
                    v = v.args[0]  # int(opts.get("k", 4)) restates 4 too
                if not (
                    isinstance(v, ast.Call) and isinstance(v.func, ast.Attribute)
                    and v.func.attr == "get" and getattr(v.func.value, "id", "") == "opts"
                    and v.args and isinstance(v.args[0], ast.Constant)
                    and v.args[0].value == kw.arg and kw.arg in defaults
                ):
                    continue
                given = value(v.args[1]) if len(v.args) > 1 else None
                if given == defaults[kw.arg]:
                    sites.append(f"{fn.name}:{v.lineno} {call.func.id}({kw.arg}={given!r})")
    return sites


def test_node_adapters_do_not_restate_operator_defaults():
    """A node option's default lives once, in its operator's signature:
    an adapter that passes ``k=opts.get("k", <the operator's default>)``
    keeps a second copy that can drift from the first."""
    assert _restated_defaults(REPO) == []
