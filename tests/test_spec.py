import ast
import pathlib

import numpy as np

from semantic_search_system_spark import spec


def test_clean_tokens_matches_sql_semantics():
    assert spec.clean_tokens("Hello, World! x2") == ["hello", "world", "x2"]
    assert spec.clean_tokens("  a   b  ") == ["a", "b"]
    assert spec.clean_tokens("") == []


def test_top_k_deterministic_tiebreak():
    items = ["b", "a", "c", "a", "b"]
    # a and b tie at 2 → lexicographic; c has 1
    assert spec.top_k_by_freq(items, 2) == [("a", 2), ("b", 2)]


def test_extract_doc_caps_and_filters():
    content = "the spark table spark join the table spark"
    out = spec.extract_doc(content)
    assert out["entities"][0] == "spark"  # freq 3
    assert "the" not in out["entities"]
    assert len(out["entities"]) <= spec.TOP_K_ENTITIES
    assert len(out["topics"]) <= spec.TOP_K_TOPICS
    # bigram 'spark table' occurs twice? positions: the spark / spark table / ...
    assert all(" " in t for t in out["topics"])


def test_embed_unit_norm_and_determinism():
    v1 = spec.embed_text("spark join table")
    v2 = spec.embed_text("spark join table")
    assert v1.shape == (spec.EMBED_DIM,)
    assert np.array_equal(v1, v2)
    assert abs(float(np.linalg.norm(v1)) - 1.0) < 1e-6
    assert spec.embed_text("").sum() == 0.0


def test_media_ref_is_md5():
    r = spec.media_ref("7", 3)
    assert r.startswith("media://") and len(r) == len("media://") + 32


# -------------------------------------------------------------- reachability
_REPO = pathlib.Path(__file__).resolve().parents[1]
# What the system runs: the pipeline, the nine search strategies, the stream
# sinks and their maintenance calls and the query registry, plus every name
# that __spark_entry__.py, scripts/ and perfbench/ use.
_ENTRIES = {
    "run_pipeline",
    *"simple_search advanced_search pro_search pro_search_enhanced search_kb".split(),
    *"advanced_search_ann pro_search_ann pro_search_enhanced_ann search_kb_ann".split(),
    *"enrich_stream triples_stream compact_stream_epochs reconcile_relates serving_triples".split(),
    "registry",
}


def _names(node: ast.AST) -> set[str]:
    """The names a subtree can reach: identifiers, attributes, the source
    name of a renaming import and identifier-shaped strings (names looked up
    with getattr). A plain import is not a use."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and n.asname:
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def test_every_def_is_reachable():
    """The name closure of the entries covers every top-level def and class
    of the package. Names are matched across modules, so the closure can
    only over-approximate what runs: a def it misses has no caller."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots = set(_ENTRIES)
    for path in sorted((_REPO / "semantic_search_system_spark").rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((f"{path.stem}.{stmt.name}", stmt))
                if any(  # @query(...) registers the def at import
                    isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                    for d in stmt.decorator_list
                ):
                    roots.add(stmt.name)
            else:  # module-level code runs at import
                roots |= _names(stmt)
    for path in [
        _REPO / "__spark_entry__.py",
        *(_REPO / "scripts").glob("*.py"),
        *(_REPO / "perfbench").glob("*.py"),
    ]:
        if not path.name.startswith("test_"):
            roots |= _names(ast.parse(path.read_text()))
    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            for _, node in defs.get(name, ()):
                todo += _names(node)
    unreached = {q for name, ds in defs.items() if name not in seen for q, _ in ds}
    assert not unreached, sorted(unreached)
