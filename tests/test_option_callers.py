"""Every option has a caller: a static guard, no import, no Spark job.

Scans the package's public module-level functions (outside the query
modules ``plans/q_*.py``) and every call site in the package, ``tests/``,
``tools/``, ``bench.py`` and ``perfbench/``. A defaulted parameter that no
call site ever passes — by keyword, by position or through ``**kwargs`` —
is a knob only its default has ever run: fold it into a constant inside
the function instead.

Exempt by name, because they bind the caller's data rather than change
what an operator computes: column bindings (``*_col``, ``*_cols``,
``col``, ``src``/``dst``, ``lo``/``hi``), directories (``*_dir``), and the
LSH bucket cap and its telemetry hooks (``observation``, ``oversize``,
``max_bucket_size``).
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "gene_level_metadata_pipeline_spark"

_COLUMN_NAMES = {"col", "src", "dst", "lo", "hi"}
_HOOK_NAMES = {"observation", "oversize", "max_bucket_size"}


def _exempt(param: str) -> bool:
    return (
        param.endswith(("_col", "_cols", "_dir"))
        or param in _COLUMN_NAMES
        or param in _HOOK_NAMES
    )


def _defaulted_params() -> dict[tuple[str, str], tuple[list[str], list[str]]]:
    """(module, function) -> (positional parameter names, defaulted names)."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        if path.parent.name == "plans" and path.name.startswith("q_"):
            continue
        rel = str(path.relative_to(REPO))
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            a = node.args
            pos = [x.arg for x in a.posonlyargs + a.args]
            dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
            dflt += [
                x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            out[(rel, node.name)] = (pos, dflt)
    return out


def _call_sites() -> list[Path]:
    files = [REPO / "bench.py"]
    for d in (PKG, REPO / "tests", REPO / "tools", REPO / "perfbench"):
        files += sorted(d.rglob("*.py"))
    return files


def _passed_params(defs) -> dict[tuple[str, str], set[str]]:
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    passed: dict[tuple[str, str], set[str]] = {key: set() for key in defs}
    for path in _call_sites():
        tree = ast.parse(path.read_text())
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            name = alias.get(name, name)
            for key in by_name.get(name, ()):
                pos = defs[key][0]
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        passed[key].update(pos[i:])
                        break
                    if i < len(pos):
                        passed[key].add(pos[i])
                for kw in call.keywords:
                    if kw.arg is not None:
                        passed[key].add(kw.arg)
                    elif isinstance(kw.value, ast.Dict):
                        passed[key].update(
                            k.value for k in kw.value.keys
                            if isinstance(k, ast.Constant)
                        )
                    else:  # **kwargs of unknown keys: may pass any of them
                        passed[key].update(defs[key][1])
    return passed


def test_every_defaulted_parameter_has_a_caller():
    defs = _defaulted_params()
    passed = _passed_params(defs)
    never_set = [
        f"{mod}::{fn}({p})"
        for (mod, fn), (_pos, dflt) in sorted(defs.items())
        for p in dflt
        if p not in passed[(mod, fn)] and not _exempt(p)
    ]
    assert not never_set, (
        f"{len(never_set)} defaulted parameter(s) that no call site passes "
        "— fold each into a constant inside its function:\n  "
        + "\n  ".join(never_set)
    )
