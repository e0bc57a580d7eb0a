"""Invariants of the query registry (import only, no Spark job).

`CORRECTNESS_r11.json` records the oracle check of the first 50 registered
names, so their order must not drift; `bench.py` and the tools name
queries by string, so every such name must stay registered.
"""

from __future__ import annotations

import ast
import json
from pathlib import Path

from gene_level_metadata_pipeline_spark.plans.driver_queries import ORACLE, QUERIES

REPO = Path(__file__).resolve().parents[1]

# registered queries with no DuckDB oracle (checked for rows only)
ROWS_ONLY: set[str] = set()


def _tool_query_names() -> dict[str, set[str]]:
    """String literals of each tool's module-level QUERIES / CURATED lists,
    read with ``ast`` so no tool module is imported."""
    out: dict[str, set[str]] = {}
    for path in sorted((REPO / "tools").glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.Assign):
                continue
            if not any(
                isinstance(t, ast.Name) and t.id in ("QUERIES", "CURATED")
                for t in node.targets
            ):
                continue
            for sub in ast.walk(node.value):
                if isinstance(sub, (ast.List, ast.Tuple)):
                    out.setdefault(path.name, set()).update(
                        e.value for e in sub.elts
                        if isinstance(e, ast.Constant) and isinstance(e.value, str)
                    )
    return out


def test_first_50_match_correctness_record():
    expected = list(json.loads((REPO / "CORRECTNESS_r11.json").read_text()))
    assert len(expected) == 50
    assert list(QUERIES)[:50] == expected


def test_headline_queries_registered():
    import bench

    assert bench.HEADLINE
    assert [n for n in bench.HEADLINE if n not in QUERIES] == []


def test_tool_query_lists_registered():
    named = _tool_query_names()
    assert {"ab_graph_escape.py", "check_scale100.py", "stress_scale.py"} <= set(named)
    missing = {tool: sorted(n - set(QUERIES)) for tool, n in named.items()}
    assert {tool: m for tool, m in missing.items() if m} == {}


def test_oracles_belong_to_registered_queries():
    assert set(ORACLE) <= set(QUERIES)
    assert set(QUERIES) - set(ORACLE) == ROWS_ONLY
