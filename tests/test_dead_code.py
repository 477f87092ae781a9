"""No dead product code: every top-level function of the package has a
caller inside the package, or is on an explicit list below.

Spark-free: the package's source is parsed with ``ast``, nothing is
imported. A function counts as called when its name is referenced
anywhere in the package outside its own body (a call, an attribute, an
import, or a name in a string, as ``getattr`` dispatch uses), or when
``@register`` puts it in the catalog's ``REGISTRY``.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "data_prep_opensearch_spark"

# Called from outside the package only, on purpose.
ALLOWED = {
    # public API that tests, tools and the benchmark exercise as capabilities
    "brute_force_topk": "exact kNN baseline of the ANN recall gates",
    "corpus_pandas": "synthetic corpus as pandas, for oracles and fixtures",
    "index_fingerprint": "logical identity of an index across merges",
    "ivf_probe_topk": "IVF search API",
    "ivf_refresh": "IVF refresh API",
    "ivf_write_clustered": "IVF build API",
    "reference_query_set": "the scorer benchmarks' query set",
    "run_counters": "per-run prep counters",
    "search_facets": "faceted search API",
    "sessionize_stream": "streaming API",
    "stop_spark": "session teardown",
    "windowed_counts_batch": "streaming API, batch twin",
    "windowed_counts_stream": "streaming API",
    # the reference codec and tokenizer the tests hold product code to
    "encode_posting_list": "reference codec",
    "encode_positions": "reference codec",
    "tokenize_to_postings": "reference tokenizer",
    "encode_segments": "reference segment encoder",
}


def _names(node: ast.AST):
    """Every name ``node`` references."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            yield sub.id
        elif isinstance(sub, ast.Attribute):
            yield sub.attr
        elif isinstance(sub, ast.alias):
            yield sub.name.rsplit(".", 1)[-1]
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            yield sub.value


def _functions_without_caller() -> dict[str, str]:
    defs: dict[str, str] = {}
    used: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if any(ast.unparse(d).startswith("register(")
                       for d in node.decorator_list):
                    used.add(node.name)
                else:
                    defs[node.name] = str(path.relative_to(PACKAGE))
                # a recursive call is not a caller
                used.update(n for n in _names(node) if n != node.name)
            else:
                used.update(_names(node))
    return {n: p for n, p in defs.items() if n not in used}


def test_every_function_has_a_caller_or_is_listed():
    dead = {n: p for n, p in _functions_without_caller().items()
            if n not in ALLOWED}
    assert not dead, (
        f"top-level functions with no caller in the package: {dead}; "
        "delete them, or list them in ALLOWED with the reason they stay")


def test_allowed_list_holds_no_called_or_missing_function():
    assert set(ALLOWED) == set(_functions_without_caller())
