"""Every option has a caller: a static guard, no import, no Spark job.

Scans the package's public module-level functions (outside the query
modules ``plans/q_*.py``) and every call site in the package, ``tests/``,
``tools/``, ``bench.py`` and ``perfbench/``. A defaulted parameter that no
call site ever sets — by keyword, by position or through ``**kwargs`` —
is a knob only its default has ever run: fold it into a constant inside
the function instead. Passing the default itself as a literal
(``max_iter=20`` where the default is 20) does not count as setting it.

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


def _defaulted_params() -> dict[tuple[str, str], tuple[list[str], dict]]:
    """(module, function) -> (positional parameter names, {defaulted name:
    default expression})."""
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
            dflt = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            dflt.update(
                (x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            )
            out[(rel, node.name)] = (pos, dflt)
    return out


def _call_sites() -> list[Path]:
    files = [REPO / "bench.py"]
    for d in (PKG, REPO / "tests", REPO / "tools", REPO / "perfbench"):
        files += sorted(d.rglob("*.py"))
    return files


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
                pos, dflt = defs[key]

                def note(param, value):
                    if _sets(value, dflt.get(param)):
                        passed[key].add(param)

                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        passed[key].update(pos[i:])
                        break
                    if i < len(pos):
                        note(pos[i], arg)
                for kw in call.keywords:
                    if kw.arg is not None:
                        note(kw.arg, kw.value)
                    elif isinstance(kw.value, ast.Dict):
                        for k, v in zip(kw.value.keys, kw.value.values):
                            if isinstance(k, ast.Constant):
                                note(k.value, v)
                    else:  # **kwargs of unknown keys: may pass any of them
                        passed[key].update(dflt)
    return passed


# Parameters whose every call site passes the default literal itself: still
# knobs no caller varies, kept when the literal guard came in. Shrink-only:
# fold one and delete its line here; a parameter never joins this list.
_DEFAULT_ONLY = {
    "operators/drift.py::conformal_split_interval(alpha_pct)",
    "operators/drift.py::fdr_bh(alpha_e6)",
    "operators/drift.py::target_encode_kfold(folds)",
    "operators/graph.py::pagerank(iterations)",
    "operators/graph.py::sssp_weighted(weight)",
    "operators/layout.py::zorder_value(bits)",
    "operators/multimodal.py::decode_audio(head_n)",
    "operators/multimodal.py::sample_frames(frame_bytes)",
    "operators/selection.py::abc_classification(a_cut)",
    "operators/selection.py::abc_classification(b_cut)",
    "operators/selection.py::mixture_reweight_mw(rounds)",
    "operators/similarity.py::embedding_near_dup(planes)",
    "operators/similarity.py::ivf_multiprobe_topk(k)",
    "operators/similarity.py::ivf_multiprobe_topk(probes)",
    "operators/similarity.py::ivf_topk(k)",
    "operators/similarity.py::pca_top_component(scale_down)",
    "operators/similarity.py::pq_codebooks(iters)",
    "operators/similarity.py::semantic_near_dup(iters)",
    "operators/skew.py::salted_join(salt_buckets)",
    "operators/temporal.py::attribute_time_decay(max_days)",
    "operators/textanalysis.py::contamination_check(n)",
    "operators/textanalysis.py::mmr_diversify(rel_weight)",
    "operators/textanalysis.py::remove_dup_spans(size)",
    "operators/textanalysis.py::remove_dup_spans(min_docs)",
    "operators/textanalysis.py::skipgram_pairs(window)",
    "operators/textanalysis.py::term_overlap_topk(k)",
    "operators/textanalysis.py::tf_idf_keywords(top_k)",
    "operators/timeseries.py::ohlc_bars(grain)",
    "operators/timeseries.py::rolling_zscore(threshold)",
    "streaming/windows.py::stream_stream_interval_join(minutes)",
}


def test_every_defaulted_parameter_has_a_caller():
    defs = _defaulted_params()
    passed = _passed_params(defs)
    never_set = {
        f"{Path(mod).relative_to(PKG.name)}::{fn}({p})"
        for (mod, fn), (_pos, dflt) in defs.items()
        for p in dflt
        if p not in passed[(mod, fn)] and not _exempt(p)
    }
    new = sorted(never_set - _DEFAULT_ONLY)
    assert not new, (
        f"{len(new)} defaulted parameter(s) that no call site sets to a "
        "value other than the default — fold each into a constant inside "
        "its function:\n  " + "\n  ".join(new)
    )
    folded = sorted(_DEFAULT_ONLY - never_set)
    assert not folded, (
        "now set by a caller, folded or deleted — remove from "
        "_DEFAULT_ONLY:\n  " + "\n  ".join(folded)
    )
