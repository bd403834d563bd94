"""Nothing in the package that only tests reach.

Every top-level function and class in robokop_build_spark/ must be
reached from code outside the test suites: the package's module-level code
(the query registry, the CLI entry point), `__spark_entry__.py`, perfbench/,
bench*.py or scripts/, directly or through package definitions they reach.
A name, an attribute or an import counts as a reference; its own
definition (and a recursive call inside it) does not, and neither does a
docstring mention. scripts/ embed child programs in strings, so a plain
word match counts there.

The same holds one level down: a parameter with a default that selects a
branch of its function (tested in an if, while or conditional expression)
must be passed by some call outside the test suites."""

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
}

# (module, function, parameter) → why it stays although no call outside the
# test suites passes it
ALLOWED_PARAMS = {
    ("datagen/driver_tables.py", "ensure_driver_tables_spark", "partitions"): (
        "file count of the generated tables; derived from the doc count "
        "unless a test pins it small"
    ),
    ("operators/similarity.py", "embedding_near_duplicates", "bits_per_table"): (
        "fixed signature width for callers that know their buckets; the "
        "query sizes it from n_rows"
    ),
    ("operators/similarity.py", "embedding_near_duplicates", "max_bucket_size"): (
        "hot-bucket guard no declared input needs yet; the hostile-input "
        "gauntlet is to decide it"
    ),
    ("plans/query.py", "enumerate_programs", "max_programs"): (
        "blow-up guard on variable-length path expansion"
    ),
    ("streaming/incremental.py", "streaming_lsh_candidates", "state_ttl_ms"): (
        "state TTL for continuously running streams; the declared query is "
        "an AvailableNow drain, which must leave it None"
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


def _caller_trees():
    """ASTs of the code outside the test suites that may call into the
    package: the package itself, perfbench/, the root scripts, scripts/ and
    the child programs scripts/ embed as str.format templates (placeholders
    read as None)."""
    paths = list(_py_files(os.path.join(ROOT, PACKAGE)))
    paths += list(_py_files(os.path.join(ROOT, "perfbench")))
    paths += [
        os.path.join(ROOT, f) for f in sorted(os.listdir(ROOT)) if f.endswith(".py")
    ]
    scripts = list(_py_files(os.path.join(ROOT, "scripts")))
    trees = [_parse(p) for p in paths + scripts]
    for tree in trees[len(paths):]:
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                src = re.sub(r"(?<!\{)\{\w+(![rsa])?\}(?!\})", "None", node.value)
                try:
                    child = ast.parse(src.replace("{{", "{").replace("}}", "}"))
                except SyntaxError:
                    continue
                # a program imports; a docstring that happens to parse doesn't
                if any(isinstance(n, ast.ImportFrom) for n in child.body):
                    trees.append(child)
    return trees


def _call_name(func):
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _params_only_tests_pass():
    """(module, function, parameter) of every package function parameter
    that has a default, that the function's body tests in an if, while or
    conditional expression, and that no call outside the test suites
    passes, by keyword or by position. Calls match by function name, as
    above; a function whose name is also used as a value (a dict of
    callables, a callback) has call sites that cannot be resolved and is
    left out."""
    n_pos: dict[str, float] = {}  # most positional args any call passes
    kws: dict[str, set] = {}
    values = set()
    for tree in _caller_trees():
        funcs = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            funcs.add(id(node.func))
            name = _call_name(node.func)
            if name is None:
                continue
            pos = len(node.args)
            if any(isinstance(a, ast.Starred) for a in node.args):
                pos = float("inf")
            if any(k.arg is None for k in node.keywords):
                pos = float("inf")  # **kwargs: any parameter may be in it
            n_pos[name] = max(n_pos.get(name, 0), pos)
            kws.setdefault(name, set()).update(k.arg for k in node.keywords)
        for node in ast.walk(tree):
            if id(node) not in funcs and isinstance(node, (ast.Name, ast.Attribute)):
                if isinstance(node.ctx, ast.Load):
                    values.add(_call_name(node))

    pkg = os.path.join(ROOT, PACKAGE)
    found = []
    for path in _py_files(pkg):
        tree = _parse(path)
        methods = {}  # method → the class it is defined in
        for c in ast.walk(tree):
            if isinstance(c, ast.ClassDef):
                for f in c.body:
                    if isinstance(f, ast.FunctionDef) and "staticmethod" not in {
                        _call_name(d) for d in f.decorator_list
                    }:
                        methods[id(f)] = c.name
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            # a constructor is called by its class name
            name = methods[id(fn)] if fn.name == "__init__" else fn.name
            if name in values:
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            first_default = len(positional) - len(a.defaults)
            defaulted = {
                p.arg: i for i, p in enumerate(positional) if i >= first_default
            }
            defaulted.update(
                (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d
            )
            tested = {
                n.id
                for node in ast.walk(fn)
                if isinstance(node, (ast.If, ast.While, ast.IfExp))
                for n in ast.walk(node.test)
                if isinstance(n, ast.Name)
            }
            shift = 1 if id(fn) in methods else 0  # self/cls is never passed
            for p, i in defaulted.items():
                if p not in tested or p in kws.get(name, ()):
                    continue
                if i is not None and n_pos.get(name, 0) > i - shift:
                    continue
                found.append((os.path.relpath(path, pkg), name, p))
    return sorted(found)


def test_no_package_parameter_only_tests_pass():
    orphans = _params_only_tests_pass()
    unexplained = [o for o in orphans if o not in ALLOWED_PARAMS]
    assert not unexplained, (
        "a parameter that picks a branch but only tests pass it (delete it "
        f"with its branch, pass it in production, or allowlist it with a "
        f"reason): {unexplained}"
    )
    stale = sorted(set(ALLOWED_PARAMS) - set(orphans))
    assert not stale, f"allowlisted but passed outside tests: {stale}"
