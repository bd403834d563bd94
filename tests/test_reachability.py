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
must be passed by some call outside the test suites, and so must every
field with a default of a dataclass (a constructor parameter: by position
in field order, or by name). A keyword passed to a function that forwards
its **kwargs to another function counts as passed to that one too."""

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
}

# (module, function, parameter) → why it stays although no call outside the
# test suites passes it
ALLOWED_PARAMS = {
    ("operators/similarity.py", "embedding_near_duplicates", "max_bucket_size"): (
        "hot-bucket guard no declared input needs yet; the hostile-input "
        "gauntlet is to decide it"
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


def _calls(node, fn=None):
    """(call, the innermost function definition around it or None) for
    every call under node."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        fn = node
    if isinstance(node, ast.Call):
        yield node, fn
    for child in ast.iter_child_nodes(node):
        yield from _calls(child, fn)


def _annotation_nodes(tree):
    """ids of the nodes inside type annotations, where a name is not a
    value."""
    out = set()
    for node in ast.walk(tree):
        anns = []
        if isinstance(node, ast.arg):
            anns = [node.annotation]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            anns = [node.returns]
        elif isinstance(node, ast.AnnAssign):
            anns = [node.annotation]
        out.update(id(n) for a in anns if a is not None for n in ast.walk(a))
    return out


def _passed_args():
    """What the calls outside the test suites pass, by callee name: (most
    positional args any call passes, keyword names, names some call passes
    a **mapping that cannot be resolved, names also used as values).

    A call f(..., **kw) inside g, where kw is g's own **kwargs, forwards:
    the keywords passed to g count for f. Calls match by function name, as
    above; a function whose name is also used as a value (a dict of
    callables, a callback) has call sites that cannot be resolved."""
    n_pos: dict[str, float] = {}
    kws: dict[str, set] = {}
    opaque = set()
    forwards = set()  # (g, f): g forwards its **kwargs to f
    values = set()
    for tree in _caller_trees():
        funcs = set()
        for node, fn in _calls(tree):
            funcs.add(id(node.func))
            name = _call_name(node.func)
            if name is None:
                continue
            pos = len(node.args)
            if any(isinstance(a, ast.Starred) for a in node.args):
                pos = float("inf")
            n_pos[name] = max(n_pos.get(name, 0), pos)
            kws.setdefault(name, set())
            for k in node.keywords:
                if k.arg is not None:
                    kws[name].add(k.arg)
                elif (
                    fn is not None
                    and fn.args.kwarg is not None
                    and isinstance(k.value, ast.Name)
                    and k.value.id == fn.args.kwarg.arg
                ):
                    forwards.add((fn.name, name))
                else:
                    opaque.add(name)  # **mapping: any parameter may be in it
        annotations = _annotation_nodes(tree)
        for node in ast.walk(tree):
            if id(node) not in funcs and id(node) not in annotations:
                if isinstance(node, (ast.Name, ast.Attribute)) and isinstance(
                    node.ctx, ast.Load
                ):
                    values.add(_call_name(node))
    changed = True
    while changed:
        changed = False
        for g, f in forwards:
            more = kws.get(g, set()) - kws.setdefault(f, set())
            if more or (g in opaque and f not in opaque):
                kws[f] |= more
                if g in opaque:
                    opaque.add(f)
                changed = True
    return n_pos, kws, opaque, values


def _is_dataclass(cls):
    return any(
        _call_name(d.func if isinstance(d, ast.Call) else d) == "dataclass"
        for d in cls.decorator_list
    )


def _params_only_tests_pass():
    """(module, function, parameter) of every package function parameter
    that has a default, that the function's body tests in an if, while or
    conditional expression, and that no call outside the test suites
    passes, by keyword or by position; and (module, class, field) of every
    dataclass field with a default that no such call passes."""
    n_pos, kws, opaque, values = _passed_args()

    def passed(name, param, index):
        """index: the parameter's position, None for keyword-only."""
        return (
            name in opaque
            or param in kws.get(name, ())
            or (index is not None and n_pos.get(name, 0) > index)
        )

    pkg = os.path.join(ROOT, PACKAGE)
    found = []
    for path in _py_files(pkg):
        tree = _parse(path)
        mod = os.path.relpath(path, pkg)
        methods = {}  # method → the class it is defined in
        for c in ast.walk(tree):
            if isinstance(c, ast.ClassDef):
                for f in c.body:
                    if isinstance(f, ast.FunctionDef) and "staticmethod" not in {
                        _call_name(d) for d in f.decorator_list
                    }:
                        methods[id(f)] = c.name
                if _is_dataclass(c) and c.name not in values:
                    fields = [
                        f
                        for f in c.body
                        if isinstance(f, ast.AnnAssign)
                        and isinstance(f.target, ast.Name)
                    ]
                    for i, f in enumerate(fields):
                        if f.value is not None and not passed(c.name, f.target.id, i):
                            found.append((mod, c.name, f.target.id))
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
            shift = 1 if id(fn) in methods else 0  # self/cls is never passed
            defaulted = {
                p.arg: i - shift
                for i, p in enumerate(positional)
                if i >= first_default
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
            for p, i in defaulted.items():
                if p in tested and not passed(name, p, i):
                    found.append((mod, name, p))
    return sorted(found)


def test_no_package_parameter_only_tests_pass():
    orphans = _params_only_tests_pass()
    unexplained = [o for o in orphans if o not in ALLOWED_PARAMS]
    assert not unexplained, (
        "a parameter that picks a branch, or a dataclass field, that only "
        "tests pass (delete it with its branch, pass it in production, or "
        f"allowlist it with a reason): {unexplained}"
    )
    stale = sorted(set(ALLOWED_PARAMS) - set(orphans))
    assert not stale, f"allowlisted but passed outside tests: {stale}"
