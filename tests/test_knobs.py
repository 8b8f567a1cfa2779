"""No unused settings: every optional parameter of a function or method under
insights_spark/ (queries/ included) must get a value other than its default
from some call outside tests/ — the library, its query registry, jobs,
benchmarks and tools. A call matches by the callee's name (a plain name, an
attribute, or a class name for __init__; a name imported as `from m import
f as g` is `f`); it sets a parameter when it passes a different literal, any
non-literal expression, or a *args/**kwargs that may cover it. A parameter only tests set selects a path no real input takes, and
one nobody sets is a constant: either way, write the default into the body,
delete the parameter, and test the fixed value. ALLOW maps
"<path under insights_spark/>:<function>.<param>" to why it stays; beyond a
deployment input, the one reason is that the parameter is a test's only way
to reach a path that real inputs reach at scale."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "insights_spark"
_UNSET = object()

# "<path>:<function>.<param>" -> why it stays
ALLOW = {
    "jobs/pipeline.py:run.boundary_rows": "deployment input: the boundary "
                                          "polygons a real run loads; "
                                          "synth.gen_boundaries() stands in",
    "geo/vectorize.py:star_cc_labels.collect_cap": "collect_cap=0 runs the "
        "distributed star contraction that edge lists above 300k edges take; "
        "tests pin it equal to the driver union-find path",
    "geo/vectorize.py:star_cc_labels.max_sweeps": "a cap below the graph's "
        "sweep count is the only way a test reaches the non-convergence "
        "RuntimeError that a large adversarial graph would hit at 30",
}


def _literal(node: ast.AST):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _UNSET


class _Defs(ast.NodeVisitor):
    """Every def under a module, keyed by the name a call would use."""

    def __init__(self, rel: str):
        self.rel, self.stack, self.out = rel, [], []

    def visit_ClassDef(self, node):
        self.stack.append(node)
        self.generic_visit(node)
        self.stack.pop()

    def visit_FunctionDef(self, node):
        owner = self.stack[-1] if self.stack else None
        method = isinstance(owner, ast.ClassDef)
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                     for d in node.decorator_list)
        a = node.args
        pos = a.posonlyargs + a.args
        names = [p.arg for p in pos]
        skip = 1 if method and not static else 0
        qual = ".".join([getattr(n, "name", "") for n in self.stack] + [node.name])
        opts = {}
        for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults):
            opts[p.arg] = d
        for p, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                opts[p.arg] = d
        if opts:
            call = owner.name if method and node.name == "__init__" else node.name
            self.out.append(dict(rel=self.rel, qual=qual, call=call,
                                 pos=names[skip:], opts=opts))
        self.stack.append(node)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef


def _calls(tree: ast.AST):
    """(callee name, call) for every call in the tree; a plain name bound
    by `from m import f as g` resolves to `f`."""
    alias = {a.asname: a.name for n in ast.walk(tree)
             if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            f = n.func
            if isinstance(f, ast.Name):
                yield alias.get(f.id, f.id), n
            elif isinstance(f, ast.Attribute):
                yield f.attr, n


def _files() -> dict[Path, ast.AST]:
    return {p: ast.parse(p.read_text()) for p in ROOT.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)}


def _defs(files: dict[Path, ast.AST]) -> list[dict]:
    out = []
    for path, tree in files.items():
        rel = path.relative_to(ROOT).as_posix().removeprefix("insights_spark/")
        if path.is_relative_to(PKG):
            v = _Defs(rel)
            v.visit(tree)
            out += v.out
    return out


def _keys(defs: list[dict]) -> list[str]:
    return [f"{d['rel']}:{d['qual']}.{p}" for d in defs for p in d["opts"]]


def optional_params() -> list[str]:
    """'<path>:<function>.<param>' for every optional parameter the scan covers."""
    return _keys(_defs(_files()))


def knobs(tests: bool = True) -> list[str]:
    """The optional parameters no call sets; with tests=False, calls under
    tests/ do not count."""
    files = _files()
    defs = _defs(files)
    by_call = defaultdict(list)
    for d in defs:
        by_call[d["call"]].append(d)
    set_ = set()
    for path, tree in files.items():
        if not tests and "tests" in path.relative_to(ROOT).parts:
            continue
        for name, call in _calls(tree):
            for d in by_call.get(name, ()):
                given = {}  # param -> passed node, or _UNSET when *args/**kwargs
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        given.update(dict.fromkeys(d["pos"][i:], _UNSET))
                        break
                    if i < len(d["pos"]):
                        given[d["pos"][i]] = arg
                for kw in call.keywords:
                    if kw.arg is None:
                        given.update(dict.fromkeys(d["opts"], _UNSET))
                    else:
                        given[kw.arg] = kw.value
                for p, val in given.items():
                    if p not in d["opts"]:
                        continue
                    lit = val if val is _UNSET else _literal(val)
                    if lit is _UNSET or lit != _literal(d["opts"][p]):
                        set_.add(f"{d['rel']}:{d['qual']}.{p}")
    return sorted(set(_keys(defs)) - set_)


def test_every_optional_parameter_is_set_by_some_call():
    unset = knobs(tests=False)
    bad = [k for k in unset if k not in ALLOW]
    assert not bad, f"optional parameters no call sets (inline the default): {bad}"
    stale = set(ALLOW) - set(unset)
    assert not stale, f"stale ALLOW entries: {stale}"
