"""No public symbol of the package is an orphan.

An ``ast`` scan, no Spark: every public top-level function, class and
UPPER_CASE constant defined in the package must be used somewhere in the
package, ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``. A use is a ``Name``, an ``Attribute`` or an
import alias; the definition itself is not. Code that only ``tests/``
calls is a second implementation to delete, unless it is a kept
entrypoint named in ``ENTRYPOINTS`` with the reason it stays.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "semanticrelationextractionpolish_spark"
USER_PATHS = (
    PACKAGE,
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
)

# Public API and reference-coverage rows (COVERAGE.md) that no code in
# USER_PATHS calls: each is a documented entrypoint for callers of the
# library, tested directly.
ENTRYPOINTS = {
    # plans: the config-driven runner and the lineage/counter reports
    "run_config": "public runner for reference-style config dicts",
    "lineage_report": "public per-stage row-count report",
    "partition_counters": "public per-partition lineage table",
    # streaming: the stream-side restatements of batch operators
    "streaming_exact_dedup": "streaming exact dedup, public stream API",
    "page_rate_by_lang": "streaming windowed aggregation API",
    "stream_triples": "streaming triple extraction API",
    "read_triples_sink": "reads back what the triple stream wrote",
    "join_pages_with_annotations": "stream-static join API",
    # model scoring and reference input formats
    "save_model": "writes the model that model_score loads",
    "read_conll": "CoNLL reader, reference input format",
    "subword_label_propagation": "reference NER label propagation row",
    # fixtures for callers that build their own inputs
    "synth_pages_local": "in-process pages, the plain-Python oracle's input",
    "planted_embeddings": "embeddings with planted neighbours for ANN",
    # rendering of the reference's printed tables
    "format_sentence_table": "reference sentence-table printout",
    "format_model_input_table": "reference model-input printout",
    "show_scored": "reference scored-pairs printout",
}


def _py_files(path: pathlib.Path):
    return sorted(path.rglob("*.py")) if path.is_dir() else [path]


def public_definitions() -> dict[str, str]:
    """name -> defining module path, for every public top-level symbol."""
    defs = {}
    for p in _py_files(PACKAGE):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name) and t.id.isupper()]
            else:
                continue
            for name in names:
                if not name.startswith("_"):
                    defs[name] = str(p.relative_to(ROOT))
    return defs


def used_names() -> set[str]:
    used = set()
    for path in USER_PATHS:
        for p in _py_files(path):
            for node in ast.walk(ast.parse(p.read_text())):
                if isinstance(node, ast.Name):
                    # a Store is an assignment, such as the constant's
                    # own definition, not a use
                    if not isinstance(node.ctx, ast.Store):
                        used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
                elif isinstance(node, ast.alias):
                    used.add(node.name.rsplit(".", 1)[-1])
                    if node.asname:
                        used.add(node.asname)
    return used


def test_no_public_symbol_is_test_only():
    used = used_names()
    orphans = sorted(
        f"{module}:{name}"
        for name, module in public_definitions().items()
        if name not in used and name not in ENTRYPOINTS
    )
    assert not orphans, (
        "public symbols that only tests use; delete them or name them in "
        f"ENTRYPOINTS with a reason: {orphans}"
    )


def test_entrypoints_are_defined_and_uncalled():
    """The allowlist cannot go stale: an entry whose symbol is gone, or
    that production code now calls, is removed from it."""
    defined, used = public_definitions(), used_names()
    stale = sorted(n for n in ENTRYPOINTS if n not in defined or n in used)
    assert not stale, f"ENTRYPOINTS entries that are gone or now called: {stale}"
