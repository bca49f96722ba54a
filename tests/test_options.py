"""Every keyword option of the engine's operators is set somewhere.

A defaulted parameter that no call passes is a configuration nobody runs
and no test checks.  An AST scan collects every defaulted parameter of the
functions in ``rasteret_spark/operators/``, ``sources/`` (``synthetic.py``
aside: it is part of the truth key), ``format/`` and ``plans/``, and every
call in the checkout (library, entry, scripts, benches, perfbench, oracles
and tests).  Call sites are matched by function name:

- a parameter counts as set when some call of that name passes it by
  keyword, or passes enough positional arguments to reach it;
- a call with ``**kwargs`` sets every parameter, one with ``*args`` every
  positional one;
- a class call sets its ``__init__``'s parameters;
- a function that is a value of a module-level dispatch dict (name ->
  function, e.g. ``raster_mosaic.RESAMPLERS``) gets the arguments of the
  calls its dispatcher makes through the dict.

Run as a script to print the per-module counts and every unset option."""

import ast
import sys
from collections import Counter, defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "rasteret_spark"
SCOPE = [
    p
    for d in ("operators", "sources", "format", "plans")
    for p in sorted((PKG / d).rglob("*.py"))
    if p.name != "synthetic.py"
]
SKIP_DIRS = {".perfbench_work", "__pycache__", ".git", "spark-warehouse"}
# (module path, function, parameter) -> why it may stay unset
ALLOWLIST: dict[tuple[str, str, str], str] = {}


def _call_sites() -> list[Path]:
    return [
        p
        for p in sorted(REPO.rglob("*.py"))
        if not SKIP_DIRS.intersection(p.relative_to(REPO).parts)
    ]


def _callee(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


class _Call:
    __slots__ = ("n_pos", "star", "dstar", "kws")

    def __init__(self, node: ast.Call):
        self.n_pos = sum(not isinstance(a, ast.Starred) for a in node.args)
        self.star = any(isinstance(a, ast.Starred) for a in node.args)
        self.dstar = any(k.arg is None for k in node.keywords)
        self.kws = {k.arg for k in node.keywords if k.arg is not None}

    def sets(self, name: str, pos: int | None) -> bool:
        if self.dstar or name in self.kws:
            return True
        return pos is not None and (self.star or pos < self.n_pos)


def _dispatch_calls(tree: ast.Module) -> dict[str, list[_Call]]:
    """Function name -> calls made through a module-level dispatch dict
    (every value a bare name) by the functions that read the dict."""
    tables = {}
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and isinstance(node.value, ast.Dict)
            and node.value.values
            and all(isinstance(v, ast.Name) for v in node.value.values)
        ):
            tables[node.targets[0].id] = [v.id for v in node.value.values]
    out = defaultdict(list)
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        # locals bound from a table lookup, e.g. ``f = TABLE.get(method)``
        bound = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and len(node.targets) == 1:
                t = node.targets[0]
                reads = {n.id for n in ast.walk(node.value) if isinstance(n, ast.Name)}
                for table in reads & tables.keys():
                    if isinstance(t, ast.Name):
                        bound[t.id] = table
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                table = bound.get(node.func.id)
                if table:
                    for target in tables[table]:
                        out[target].append(_Call(node))
    return out


def scan():
    """(options, unset): every defaulted parameter in scope as
    ``(module path, function, parameter)``, and those no call sets."""
    calls: dict[str, list[_Call]] = defaultdict(list)
    for path in _call_sites():
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = _callee(node.func)
                if name:
                    calls[name].append(_Call(node))
        for name, cs in _dispatch_calls(tree).items():
            calls[name].extend(cs)

    options, unset = [], []
    for path in SCOPE:
        rel = str(path.relative_to(REPO))
        tree = ast.parse(path.read_text(), str(path))
        owner = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                for item in node.body:
                    owner[id(item)] = node.name
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            positional = [*a.posonlyargs, *a.args]
            cls = owner.get(id(fn))
            is_static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list
            )
            skip_self = int(cls is not None and not is_static)
            callee = cls if fn.name == "__init__" and cls else fn.name
            sites = calls.get(callee, [])
            first_default = len(positional) - len(a.defaults)
            defaulted = [
                (p.arg, i - skip_self)
                for i, p in enumerate(positional)
                if i >= first_default
            ] + [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for name, pos in defaulted:
                key = (rel, fn.name, name)
                options.append(key)
                if key not in ALLOWLIST and not any(c.sets(name, pos) for c in sites):
                    unset.append(key)
    return options, unset


def test_every_option_is_set_somewhere():
    _, unset = scan()
    assert not unset, (
        f"{len(unset)} defaulted parameters no call sets; delete them (the "
        "default becomes the behaviour) or set them in a caller or test:\n"
        + "\n".join(f"  {m}: {f}({p}=)" for m, f, p in unset)
    )


def test_allowlist_entries_exist_and_name_a_reason():
    options, _ = scan()
    for key, why in ALLOWLIST.items():
        assert key in options, f"stale allowlist entry {key}"
        assert why.strip(), f"allowlist entry {key} names no reason"


if __name__ == "__main__":
    options, unset = scan()
    by_mod = Counter(m for m, _, _ in options)
    un_mod = Counter(m for m, _, _ in unset)
    for m in sorted(by_mod):
        print(f"{by_mod[m]:4d} {un_mod[m]:4d}  {m}")
    print(f"{len(options):4d} {len(unset):4d}  total (defaulted, unset)")
    if "-v" in sys.argv:
        for m, f, p in unset:
            print(f"  {m}: {f}({p}=)")
