"""One composition per pipeline: only ``decode.zonal_join`` and
``sampling.sample_join`` chain candidate generation into the decode, only
``raster_mosaic``'s shared chip steps cap chip candidates and join their
payloads, and only ``miniraster.CachedReader`` coalesces byte ranges and
decodes tiles (chunky TIFF tiles aside).

Every other caller goes through the entries, so changing how candidates
are generated is a change to those functions, not to every pipeline.
An AST scan of the library and its runnable surfaces finds each call of the
chain's primitives, resolving import aliases, and each hand-written
``F.col("xmin").alias("img_xmin")`` rename of the image footprint (the one
copy is ``spatial_join.image_light``).  The same scan checks that every
library module is reached by an import chain from a runnable surface, and
every top-level library function or class by a name the surfaces can get to,
so no code is kept alive by its tests alone."""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCANNED = [
    *sorted((REPO / "rasteret_spark").rglob("*.py")),
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "bench_extra.py",
    *sorted((REPO / "scripts").rglob("*.py")),
]
LIB = REPO / "rasteret_spark"
# the runnable surfaces: the query entry, the benches, the scripts,
# perfbench, the oracles, and the workspace CLI inside the library
# (``python -m rasteret_spark.cli``)
SURFACES = [
    REPO / "__spark_entry__.py",
    *sorted(REPO.glob("bench*.py")),
    *sorted((REPO / "scripts").rglob("*.py")),
    *sorted((REPO / "perfbench").rglob("*.py")),
    *sorted((REPO / "oracles").rglob("*.py")),
]
CLI = "rasteret_spark.cli"
# library module no import reaches -> (file, conf key) whose conf value
# names it, so Spark loads it by name
LOADED_BY_CONF = {
    "rasteret_spark.worker_daemon": ("rasteret_spark/session.py", "spark.python.daemon.module"),
}
OPS = "rasteret_spark.operators"
FMT = "rasteret_spark.format"
# primitive -> the only modules that may call it
ALLOWED = {
    # one window reader: tiles decode in CachedReader (chunky TIFF tiles in
    # tiff.decode_chunky_tile), and only CachedReader coalesces byte ranges
    f"{FMT}.codecs.decode_tile": {
        "rasteret_spark/format/miniraster.py", "rasteret_spark/format/tiff.py",
    },
    f"{FMT}.miniraster.coalesce_ranges": {"rasteret_spark/format/miniraster.py"},
    f"{OPS}.spatial_join.refine_rect_polygon": {"rasteret_spark/operators/decode.py"},
    f"{OPS}.decode.zonal_stats": {"rasteret_spark/operators/decode.py"},
    f"{OPS}.sampling.sample_points": {"rasteret_spark/operators/sampling.py"},
    f"{OPS}.raster_mosaic._depth_cap": {"rasteret_spark/operators/raster_mosaic.py"},
    f"{OPS}.raster_mosaic.join_payload_grouped": {"rasteret_spark/operators/raster_mosaic.py"},
}
# (file, enclosing function) call sites kept on purpose
ALLOWLIST = {
    # q49 dedups the candidates to the latest image per point
    # (asof.latest_per_key) between the join and the decode — a step the
    # sample entry does not own
    ("__spark_entry__.py", "q49_image_latest_sample", f"{OPS}.sampling.sample_points"),
    # the zonal_cands_only stage times candidate generation without the decode
    ("bench_extra.py", "main", f"{OPS}.spatial_join.refine_rect_polygon"),
}
# the one (file, function) that renames the footprint columns to img_*
IMAGE_LIGHT = ("rasteret_spark/operators/spatial_join.py", "image_light")


def _module_name(rel: str) -> str:
    return rel[: -len(".py")].replace("/", ".").removesuffix(".__init__")


def _import_base(node: ast.ImportFrom, module: str) -> str:
    """Absolute dotted module of a ``from ... import``, relative ones
    resolved against the importing ``module``."""
    base = node.module or ""
    if node.level:
        pkg = module.rsplit(".", 1)[0]
        parent = pkg.rsplit(".", node.level - 1)[0] if node.level > 1 else pkg
        base = f"{parent}.{base}" if base else parent
    return base


def _aliases(tree: ast.Module, module: str) -> dict[str, str]:
    """Local name -> dotted path, from every import in the file (any scope)
    plus the file's own top-level definitions."""
    out = {
        n.name: f"{module}.{n.name}"
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name
                else:
                    out[a.name.split(".")[0]] = a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(node, module)
            for a in node.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
    return out


def _dotted(func: ast.expr, aliases: dict[str, str]) -> str | None:
    parts = []
    while isinstance(func, ast.Attribute):
        parts.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name):
        return None
    return ".".join([aliases.get(func.id, func.id), *reversed(parts)])


def _calls(path: Path):
    """(rel path, enclosing top-level function, resolved callee) per call."""
    rel = path.relative_to(REPO).as_posix()
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases = _aliases(tree, _module_name(rel))
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield rel, owner, _dotted(node.func, aliases), node.lineno


def test_chain_primitives_called_only_from_the_entries():
    offenders = [
        f"{rel}:{line} calls {callee}"
        for path in SCANNED
        for rel, owner, callee, line in _calls(path)
        if callee in ALLOWED
        and rel not in ALLOWED[callee]
        and (rel, owner, callee) not in ALLOWLIST
    ]
    assert not offenders, (
        "a primitive called outside its owners (the zonal/sample chain outside "
        "decode.zonal_join / sampling.sample_join, or a tile decode or range "
        "coalescing outside CachedReader): " + ", ".join(offenders)
    )


def test_scan_sees_the_entries_and_the_allowlisted_site():
    """Guards the scanner itself: the entries' own calls, the one window
    reader's and q49 resolve."""
    seen = {(rel, owner, callee) for path in SCANNED for rel, owner, callee, _ in _calls(path)}
    for callee in ("codecs.decode_tile", "miniraster.coalesce_ranges"):
        assert ("rasteret_spark/format/miniraster.py", "CachedReader", f"{FMT}.{callee}") in seen
    assert ("rasteret_spark/format/tiff.py", "decode_chunky_tile",
            f"{FMT}.codecs.decode_tile") in seen
    assert ("rasteret_spark/operators/decode.py", "zonal_join",
            f"{OPS}.decode.zonal_stats") in seen
    assert ("rasteret_spark/operators/decode.py", "zonal_join",
            f"{OPS}.spatial_join.refine_rect_polygon") in seen
    assert ("rasteret_spark/operators/sampling.py", "sample_join",
            f"{OPS}.sampling.sample_points") in seen
    for step in ("_depth_cap", "join_payload_grouped"):
        assert ("rasteret_spark/operators/raster_mosaic.py", "_capped_payload",
                f"{OPS}.raster_mosaic.{step}") in seen
    assert ALLOWLIST <= seen


def _img_renames(path: Path):
    """(rel path, enclosing top-level function, line) of every
    ``F.col(...).alias("img_...")`` — an ``img_`` alias, plain or f-string,
    on a bare column reference (computed bboxes are not renames)."""
    rel = path.relative_to(REPO).as_posix()
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases = _aliases(tree, _module_name(rel))
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
        for node in ast.walk(top):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "alias"
                and isinstance(node.func.value, ast.Call)
                and _dotted(node.func.value.func, aliases) == "pyspark.sql.functions.col"
                and node.args
            ):
                continue
            name = node.args[0]
            if isinstance(name, ast.JoinedStr) and name.values:
                name = name.values[0]
            if isinstance(name, ast.Constant) and str(name.value).startswith("img_"):
                yield rel, owner, node.lineno


def test_image_footprint_renamed_only_in_image_light():
    sites = [site for path in SCANNED for site in _img_renames(path)]
    assert IMAGE_LIGHT in {(rel, owner) for rel, owner, _ in sites}, (
        "the scan no longer sees spatial_join.image_light's rename"
    )
    offenders = sorted({f"{rel}:{line}" for rel, owner, line in sites if (rel, owner) != IMAGE_LIGHT})
    assert not offenders, (
        "hand-written img_ rename instead of spatial_join.image_light: "
        + ", ".join(offenders)
    )


def _imported(path: Path) -> set[str]:
    """Every dotted name a file imports: ``import a.b`` gives ``a.b``,
    ``from a import b`` gives ``a.b`` (a module or a name inside ``a``)."""
    rel = path.relative_to(REPO).as_posix()
    tree = ast.parse(path.read_text(), filename=str(path))
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(node, _module_name(rel))
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _reached() -> set[str]:
    """Every library module an import chain from a surface runs.  Importing
    ``a.b.c`` runs the packages ``a`` and ``a.b`` too; ``from a import b``
    names either the module ``a.b`` or a name inside ``a``."""
    files = {_module_name(p.relative_to(REPO).as_posix()): p for p in LIB.rglob("*.py")}
    reached: set[str] = set()
    todo = list(SURFACES)

    def reach(mod: str) -> None:
        parts = mod.split(".")
        for k in range(1, len(parts) + 1):
            m = ".".join(parts[:k])
            if m in files and m not in reached:
                reached.add(m)
                todo.append(files[m])

    reach(CLI)
    while todo:
        for name in _imported(todo.pop()):
            reach(name if name in files else name.rsplit(".", 1)[0])
    return reached


def test_every_library_module_is_reached_by_a_runnable_surface():
    """A module under ``rasteret_spark/`` that no import chain from a
    runnable surface reaches is dead library code, also when another dead
    module imports it: delete it with its tests instead of keeping it
    tested."""
    modules = {_module_name(p.relative_to(REPO).as_posix()) for p in LIB.rglob("*.py")}
    reached = _reached()
    for mod, (rel, key) in LOADED_BY_CONF.items():
        assert mod in modules and mod not in reached, f"stale entry {mod}"
        assert _module_name(rel) in reached, f"{rel} is not reached"
        assert f'"{key}": "{mod}"' in (REPO / rel).read_text(), f"{rel} sets no {key}={mod}"
    orphans = sorted(modules - reached - LOADED_BY_CONF.keys())
    assert not orphans, "library modules no runnable surface reaches: " + ", ".join(orphans)


# the module surfaces plus the README workflow written as code
DEF_SURFACES = [*SURFACES, REPO / "tests" / "test_user_story.py"]
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.Module) -> set[int]:
    """ids of the docstring constants of a module and its defs."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *DEFS)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


class _File:
    """One parsed file: its module name, docstring ids and import aliases."""

    def __init__(self, path: Path):
        self.module = _module_name(path.relative_to(REPO).as_posix())
        self.tree = ast.parse(path.read_text(), filename=str(path))
        self.docstrings = _docstrings(self.tree)
        self.aliases = _aliases(self.tree, self.module)


def _names(node: ast.AST, f: _File) -> set[str]:
    """Every name a piece of code of file ``f`` can get to: a ``Name``, an
    ``Attribute``, each part of an import alias, or a word of a string
    constant that is not a docstring (conf values, ``getattr`` names).  A
    ``Name`` or ``Attribute`` chain that resolves through the file's import
    aliases (or its own definitions) also gives its dotted path, and so does
    each name a ``from`` import brings in."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, (ast.Name, ast.Attribute)):
            out.add(n.id if isinstance(n, ast.Name) else n.attr)
            dotted = _dotted(n, f.aliases)
            if dotted and "." in dotted:
                out.add(dotted)
        elif isinstance(n, ast.ImportFrom):
            base = _import_base(n, f.module)
            out.update(f"{base}.{a.name}" for a in n.names)
        if isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in f.docstrings:
            out.update(WORD.findall(n.value))
    return out


def _unreached_definitions() -> dict[str, int]:
    """``module.name`` -> line count of each top-level function or class in a
    reached library module that no surface file, no module-level code of a
    reached module and no reached definition mentions (followed
    transitively; a class is one unit).  A name defined in one reached
    module is mentioned by its bare name; a name defined in several (say
    ``encode``) only by a reference that resolves, through the mentioning
    file's import aliases, to that module's definition."""
    files = {_module_name(p.relative_to(REPO).as_posix()): p for p in LIB.rglob("*.py")}
    defs: dict[str, tuple[ast.AST, _File]] = {}
    names: set[str] = set()
    for mod in sorted(_reached() | LOADED_BY_CONF.keys()):
        f = _File(files[mod])
        for top in f.tree.body:
            if isinstance(top, DEFS):
                defs[f"{mod}.{top.name}"] = (top, f)
            else:
                names |= _names(top, f)
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    for path in DEF_SURFACES:
        f = _File(path)
        names |= _names(f.tree, f)

    def reached_by(token: str) -> list[str]:
        if "." in token:
            return [token]
        group = by_name.get(token, [])
        return group if len(group) == 1 else []

    todo = list(names)
    while todo:
        for key in reached_by(todo.pop()):
            if key in defs:
                node, f = defs.pop(key)
                new = _names(node, f) - names
                names |= new
                todo.extend(new)
    return {
        key: node.end_lineno - min([node.lineno, *(d.lineno for d in node.decorator_list)]) + 1
        for key, (node, _) in defs.items()
    }


def test_every_library_definition_is_reached_by_a_runnable_surface():
    """A top-level function or class under ``rasteret_spark/`` whose name
    nothing a runnable surface runs can get to is dead library code: delete
    it with its tests, or move it into ``tests/`` when it is a fixture
    builder or the reference a test compares against."""
    dead = _unreached_definitions()
    assert not dead, "library definitions no runnable surface reaches: " + ", ".join(
        f"{name} ({n} lines)" for name, n in sorted(dead.items())
    )
