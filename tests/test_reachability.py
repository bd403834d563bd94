"""Nothing in the package that only tests reach.

Every top-level function and class in robokop_build_spark/ must be
reached from code outside the test suites: the package's module-level code
(the query registry, the CLI entry point), `__spark_entry__.py`, perfbench/,
bench*.py or scripts/, directly or through package definitions they reach.
A name, an attribute or an import counts as a reference; its own
definition (and a recursive call inside it) does not, and neither does a
docstring mention. scripts/ embed child programs in strings, so a plain
word match counts there."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "robokop_build_spark"

# (module, name) → why it stays without a non-test caller
ALLOWED = {
    ("operators/matching.py", "detect_batch"): (
        "pins _BatchScan against the scalar detect() the oracle replays"
    ),
    ("operators/materialize.py", "upsert_nodes"): (
        "the reference's node sink semantics (SURVEY S12); wiring it into "
        "the CLI changes the CLI's output"
    ),
    ("operators/materialize.py", "merge_triples"): (
        "the reference's edge sink semantics (SURVEY S13); wiring it into "
        "the CLI changes the CLI's output"
    ),
    ("operators/materialize.py", "write_triples"): (
        "the partitioned edge sink merge_triples writes through (SURVEY S13)"
    ),
    ("operators/similarity.py", "ivf_build_index"): (
        "the persisted index ann_ivf_topk is to be built from"
    ),
    ("operators/similarity.py", "ivf_topk_indexed"): (
        "the probe over the persisted index ann_ivf_topk is to use"
    ),
}


def _py_files(top):
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x not in ("tests", "__pycache__"))
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names_used(tree):
    """{top-level definition name, or None for module-level code: the
    names it references}, leaving out a definition's references to
    itself."""
    used = {}

    def visit(node, own, out):
        if isinstance(node, ast.Name) and node.id != own:
            out.add(node.id)
        elif isinstance(node, ast.Attribute) and node.attr != own:
            out.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            out.update(a.name for a in node.names)
        for child in ast.iter_child_nodes(node):
            visit(child, own, out)

    for node in tree.body:
        own = node.name if isinstance(node, _DEFS) else None
        visit(node, own, used.setdefault(own, set()))
    return used


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read(), path)


def _unreached():
    """(module path relative to the package, name) of every top-level
    function and class in the package that no code outside the test
    suites reaches: references from the package's own definitions count
    only once those definitions are reached themselves."""
    pkg = os.path.join(ROOT, PACKAGE)
    defs = {}  # name → [(module, names its body references)]
    live = set()
    for path in _py_files(pkg):
        for own, names in _names_used(_parse(path)).items():
            if own is None:
                live |= names
            else:
                defs.setdefault(own, []).append((os.path.relpath(path, pkg), names))
    roots = list(_py_files(os.path.join(ROOT, "perfbench")))
    roots += [
        os.path.join(ROOT, f) for f in sorted(os.listdir(ROOT)) if f.endswith(".py")
    ]
    for path in roots:
        for names in _names_used(_parse(path)).values():
            live |= names
    for path in _py_files(os.path.join(ROOT, "scripts")):
        with open(path) as f:
            live.update(re.findall(r"\w+", f.read()))
    reached = set()
    while True:
        new = (live & set(defs)) - reached
        if not new:
            break
        reached |= new
        for name in new:
            for _mod, names in defs[name]:
                live |= names
    return sorted(
        (mod, name) for name in set(defs) - reached for mod, _names in defs[name]
    )


def test_no_package_definition_only_tests_reach():
    orphans = _unreached()
    unexplained = [o for o in orphans if o not in ALLOWED]
    assert not unexplained, (
        "defined in the package but reached only from tests (delete it, "
        f"give it a caller, or allowlist it with a reason): {unexplained}"
    )
    stale = sorted(set(ALLOWED) - set(orphans))
    assert not stale, f"allowlisted but reached outside tests: {stale}"
