"""The truth cache is keyed on truth-side sources only, and lives outside
the library.

Each truth parquet path in ``oracle_sql()`` is the builder name, a digest
of its params and a digest of ``oracles/`` + ``sources/synthetic.py``.  So a
format-layer edit (codecs, containers) leaves the oracle SQL text
byte-identical, while a truth-side edit or a changed builder param moves
the paths it should.  The checks run ``oracle_sql()`` in a subprocess over
a copy of the checkout, with ``truth_parquet`` stubbed to the pure
``truth_path`` so nothing is built."""

import ast
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_PATHS_SCRIPT = """
import json
import oracles
from rasteret_spark.sources import synthetic
assert oracles.__file__.startswith({root!r}) and synthetic.__file__.startswith({root!r})
oracles.truth_parquet = oracles.truth_path  # paths only, build nothing
import __spark_entry__ as E
print(json.dumps(E.oracle_sql()))
"""


def _oracle_sql(root: Path) -> dict[str, str]:
    env = {**os.environ, "PYTHONDONTWRITEBYTECODE": "1"}
    out = subprocess.run(
        [sys.executable, "-c", _PATHS_SCRIPT.format(root=str(root))],
        cwd=root, env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _paths(sql: dict[str, str]) -> dict[str, list[str]]:
    return {q: re.findall(r"read_parquet\('([^']+)'\)", t) for q, t in sql.items()}


def _append(path: Path, text: str) -> None:
    path.write_text(path.read_text() + text)


def test_oracle_paths_follow_truth_side_sources_only(tmp_path):
    root = tmp_path / "checkout"
    ignore = shutil.ignore_patterns("__pycache__")
    shutil.copytree(REPO / "rasteret_spark", root / "rasteret_spark", ignore=ignore)
    shutil.copytree(REPO / "oracles", root / "oracles", ignore=ignore)
    shutil.copy(REPO / "__spark_entry__.py", root / "__spark_entry__.py")

    base = _oracle_sql(root)
    paths = _paths(base)
    truth_queries = {q for q, ps in paths.items() if ps}
    assert len(truth_queries) >= 41

    # format-layer edits: the oracle SQL text stays byte-identical
    for mod in ("codecs.py", "miniraster.py"):
        _append(root / "rasteret_spark" / "format" / mod, "\n# edited\n")
    assert _oracle_sql(root) == base

    # one builder param (q72's change threshold): only q72's path moves
    entry = root / "__spark_entry__.py"
    src = entry.read_text()
    assert src.count("CHANGE_THRESHOLD = 300.0\n") == 1
    entry.write_text(src.replace("CHANGE_THRESHOLD = 300.0\n", "CHANGE_THRESHOLD = 301.0\n"))
    moved = _paths(_oracle_sql(root))
    assert {q for q in truth_queries if moved[q] != paths[q]} == {"q72_change_detect"}

    # a truth-side edit: every truth path moves
    _append(root / "oracles" / "truth.py", "\n# edited\n")
    edited = _paths(_oracle_sql(root))
    assert all(edited[q] != moved[q] for q in truth_queries)


def test_truth_path_is_keyed_on_params():
    import oracles

    p = oracles.truth_path("zonal_truth_pdf", n_images=120, n_aois=40)
    assert p == oracles.truth_path("zonal_truth_pdf", n_aois=40, n_images=120)
    assert p != oracles.truth_path("zonal_truth_pdf", n_images=120, n_aois=41)
    assert p != oracles.truth_path("zonal_truth_pdf", n_images=120, n_aois=40, bands=(0, 1))
    assert p.startswith(f"{oracles.ORACLE_DIR}/zonal_truth_pdf_")


def _imports(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
    return names


def test_library_holds_no_oracle_code():
    for path in sorted((REPO / "rasteret_spark").rglob("*.py")):
        rel = path.relative_to(REPO)
        assert path.stem != "truth", rel
        tree = ast.parse(path.read_text())
        bad = {m for m in _imports(tree) if m == "oracles" or m.startswith("oracles.")}
        assert not bad, (rel, bad)
        defs = {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
        assert "_lzw_decode_ref" not in defs, rel

    # the driver contract imports the oracles only inside oracle_sql(), and
    # keeps no hand-written truth wrappers
    entry = ast.parse((REPO / "__spark_entry__.py").read_text())
    top = [n for n in entry.body if not isinstance(n, (ast.FunctionDef, ast.ClassDef))]
    assert not any("oracles" in m for n in top for m in _imports(n))
    for node in entry.body:
        if isinstance(node, ast.FunctionDef) and node.name != "oracle_sql":
            assert not any("oracles" in m for m in _imports(node)), node.name
    names = {n.name for n in entry.body if isinstance(n, ast.FunctionDef)}
    assert not {n for n in names if n.startswith("_ensure_")}
    assert "_gen_fingerprint" not in names


def test_truth_write_prunes_stale_entries_of_other_digests(tmp_path, monkeypatch):
    """Writing a truth parquet deletes the same builder+params keyed on
    another sources digest once untouched for an hour; recent ones, other
    params, other builders and the current entry stay."""
    import pandas as pd

    import oracles
    from oracles import truth

    monkeypatch.setattr(oracles, "ORACLE_DIR", str(tmp_path))
    monkeypatch.setattr(truth, "tiny_truth_pdf", lambda n: pd.DataFrame({"v": [1.0] * n}),
                        raising=False)
    path = Path(oracles.truth_path("tiny_truth_pdf", n=2))
    stem = path.name.removesuffix(".parquet")
    prefix, digest = stem.rsplit("_", 1)
    other_params = Path(oracles.truth_path("tiny_truth_pdf", n=3)).name.rsplit("_", 1)[0]
    old = time.time() - oracles.KEEP_OTHER_DIGEST_S - 60
    names = {
        "stale": f"{prefix}_{'0' * len(digest)}.parquet",
        "recent": f"{prefix}_{'1' * len(digest)}.parquet",
        "other_params": f"{other_params}_{'0' * len(digest)}.parquet",
        "other_builder": f"other_{prefix}_{'0' * len(digest)}.parquet",
        "temp": f"{prefix}_{'0' * len(digest)}.parquet.tmp.1",
    }
    for key, name in names.items():
        (tmp_path / name).write_bytes(b"")
        if key != "recent":
            os.utime(tmp_path / name, (old, old))

    assert oracles.truth_parquet("tiny_truth_pdf", n=2) == str(path)
    left = {p.name for p in tmp_path.iterdir()}
    assert left == {path.name, *(n for k, n in names.items() if k != "stale")}

    # a hit touches the entry, so another checkout's write keeps it
    os.utime(path, (old, old))
    oracles.truth_parquet("tiny_truth_pdf", n=2)
    assert path.stat().st_mtime > old + 60


def test_encoded_image_tables_prune_other_fingerprints(tmp_path, monkeypatch):
    """An encoded image table or export directory, once written, deletes the
    same name's entries keyed on another generator fingerprint that went
    untouched for ``KEEP_OTHER_FINGERPRINT_S``; recent ones, other names and
    temp directories stay, and the written entry is marked used."""
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as E

    monkeypatch.setattr(E, "IMAGE_CACHE", str(tmp_path))
    table = Path(E._fingerprinted("images_120_42") + ".parquet")
    cogs = Path(E._fingerprinted("cogs_96_0.001_96"))
    fp = cogs.name.rsplit("_", 1)[1]
    old = time.time() - E.KEEP_OTHER_FINGERPRINT_S - 60
    names = {
        "stale": f"images_120_42_{'0' * len(fp)}.parquet",
        "recent": f"images_120_42_{'1' * len(fp)}.parquet",
        "other_n": f"images_96_42_{'0' * len(fp)}.parquet",
        "temp": f"images_120_42_{'0' * len(fp)}.parquet.tmp.1",
        "stale_cogs": f"cogs_96_0.001_96_{'0' * len(fp)}",
        "shards": f"imgshards_4_{'0' * len(fp)}",
    }
    for path in (table, cogs):
        path.mkdir()
        os.utime(path, (old, old))
    for key, name in names.items():
        (tmp_path / name).mkdir()
        (tmp_path / name / "part-0").write_bytes(b"")
        if key != "recent":
            os.utime(tmp_path / name, (old, old))

    E._prune_other_fingerprints(str(table))
    left = {p.name for p in tmp_path.iterdir()}
    assert left == {table.name, cogs.name, *(n for k, n in names.items() if k != "stale")}
    assert table.stat().st_mtime > old + 60
    E._prune_other_fingerprints(str(cogs))
    assert not (tmp_path / names["stale_cogs"]).exists()
    assert (tmp_path / names["shards"]).exists()
