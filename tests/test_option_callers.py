"""Every option has a caller: a static guard, no import, no Spark job.

Scans the package's public module-level functions and the public methods
of its public module-level classes (keyed ``Class.method``, ``self`` and
``cls`` skipped), outside the query modules ``plans/q_*.py``, and every
call site in the package, ``tests/``, ``tools/``, ``bench.py`` and
``perfbench/``. A defaulted parameter that no call site ever sets — by
keyword, by position or through ``**kwargs`` — is a knob only its default
has ever run: fold it into a constant inside the function instead.
Passing the default itself as a literal (``max_iter=20`` where the default
is 20) does not count as setting it.

A package function referenced as a value — passed as an argument,
assigned, or stored in a container — may be called through that value
with any arguments the guard cannot see, so every one of its parameters
counts as set.

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


def _signature(node: ast.FunctionDef, bound: bool):
    """(positional parameter names, {defaulted name: default expression});
    a bound method's first parameter (``self``/``cls``) is not one a call
    site passes."""
    a = node.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    dflt = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    dflt.update(
        (x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    )
    return (pos[1:] if bound else pos), dflt


def _defaulted_params(sources) -> dict[tuple[str, str], tuple]:
    """(module, function or Class.method) -> signature (see
    :func:`_signature`), for every public function and public method of a
    public class in ``sources``, an iterable of (module name, source
    text)."""
    out = {}
    for rel, text in sources:
        for node in ast.parse(text).body:
            if getattr(node, "name", "_").startswith("_"):
                continue
            if isinstance(node, ast.FunctionDef):
                out[(rel, node.name)] = _signature(node, bound=False)
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if not isinstance(m, ast.FunctionDef) or m.name[0] == "_":
                        continue
                    static = any(
                        getattr(d, "id", None) == "staticmethod"
                        for d in m.decorator_list
                    )
                    out[(rel, f"{node.name}.{m.name}")] = _signature(
                        m, bound=not static
                    )
    return out


def _literal(node):
    """repr of a literal expression's value; None when it is not a literal."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return None


def _sets(value, default) -> bool:
    """Whether passing ``value`` can change what the function computes: any
    argument does, except the parameter's own default spelled as a literal
    (``max_iter=20`` where the default is 20 varies nothing)."""
    if default is None:  # not a defaulted parameter
        return True
    lit = _literal(value)
    return lit is None or lit != _literal(default)


def _ref_name(node):
    """The name a Name or Attribute node refers to; None for other nodes."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _values(node) -> list:
    """The expressions ``node`` passes as an argument, assigns, or stores
    in a container: where a function named there is used as a value."""
    if isinstance(node, ast.Call):
        return node.args + [kw.value for kw in node.keywords]
    if isinstance(node, (ast.Assign, ast.AnnAssign, ast.NamedExpr)):
        return [node.value]
    if isinstance(node, (ast.List, ast.Tuple, ast.Set)):
        return node.elts
    if isinstance(node, ast.Dict):
        return node.values
    return []


def _passed_params(defs, sources) -> dict[tuple[str, str], set[str]]:
    """The parameters of each definition in ``defs`` that some call site
    in ``sources`` (module name, source text) sets."""
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1].rsplit(".", 1)[-1], []).append(key)
    passed: dict[tuple[str, str], set[str]] = {key: set() for key in defs}
    for _rel, text in sources:
        tree = ast.parse(text)
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        for node in ast.walk(tree):
            for value in _values(node):
                # a function value: the call through it is out of sight
                name = _ref_name(value)
                for key in by_name.get(alias.get(name, name), ()):
                    passed[key].update(defs[key][1])
            if not isinstance(node, ast.Call):
                continue
            name = _ref_name(node.func)
            for key in by_name.get(alias.get(name, name), ()):
                pos, dflt = defs[key]

                def note(param, value):
                    if _sets(value, dflt.get(param)):
                        passed[key].add(param)

                for i, arg in enumerate(node.args):
                    if isinstance(arg, ast.Starred):
                        passed[key].update(pos[i:])
                        break
                    if i < len(pos):
                        note(pos[i], arg)
                for kw in node.keywords:
                    if kw.arg is not None:
                        note(kw.arg, kw.value)
                    elif isinstance(kw.value, ast.Dict):
                        for k, v in zip(kw.value.keys, kw.value.values):
                            if isinstance(k, ast.Constant):
                                note(k.value, v)
                    else:  # **kwargs of unknown keys: may pass any of them
                        passed[key].update(dflt)
    return passed


def _never_set(definitions, call_sites) -> set[str]:
    """``module::function(param)`` for every non-exempt defaulted parameter
    of ``definitions`` that no call in ``call_sites`` sets; both are
    iterables of (module name, source text)."""
    defs = _defaulted_params(definitions)
    passed = _passed_params(defs, call_sites)
    return {
        f"{mod}::{fn}({p})"
        for (mod, fn), (_pos, dflt) in defs.items()
        for p in dflt
        if p not in passed[(mod, fn)] and not _exempt(p)
    }


def _package_definitions():
    for path in sorted(PKG.rglob("*.py")):
        if not (path.parent.name == "plans" and path.name.startswith("q_")):
            yield str(path.relative_to(PKG)), path.read_text()


def _repo_call_sites():
    files = [REPO / "bench.py"]
    for d in (PKG, REPO / "tests", REPO / "tools", REPO / "perfbench"):
        files += sorted(d.rglob("*.py"))
    for path in files:
        yield str(path.relative_to(REPO)), path.read_text()


def test_every_defaulted_parameter_has_a_caller():
    never = sorted(_never_set(_package_definitions(), _repo_call_sites()))
    assert not never, (
        f"{len(never)} defaulted parameter(s) that no call site sets to a "
        "value other than the default — fold each into a constant inside "
        "its function:\n  " + "\n  ".join(never)
    )


_LIB = '''
def op(df, key, k=5):
    return df

class Store:
    def put(self, name, df, cache=False):
        return df
'''


def test_a_call_through_a_function_value_sets_every_parameter():
    direct = "op(df, 'id')\n"
    through = "def run(fn):\n    return fn(df, 'id', 9)\nrun(op)\n"
    lib = [("lib.py", _LIB)]
    assert "lib.py::op(k)" in _never_set(lib, [("use.py", direct)])
    assert "lib.py::op(k)" not in _never_set(lib, [("use.py", through)])


def test_a_public_methods_never_set_parameter_is_reported():
    default = "Store().put('t', df)\n"
    set_it = "Store().put('t', df, True)\n"
    lib = [("lib.py", _LIB)]
    assert "lib.py::Store.put(cache)" in _never_set(lib, [("use.py", default)])
    assert "lib.py::Store.put(cache)" not in _never_set(
        lib, [("use.py", set_it)]
    )
