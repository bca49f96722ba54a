"""No module-global state that changes what a later query computes or times.

A module-level ``DataFrame`` (or container of them) is a registry shared by
every caller in the process: one plan build can persist, replace or release
what an earlier plan still reads, so results and timings depend on call
order.  Plan-scoped state belongs to the DataFrame that uses it."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "rasteret_spark"


def test_no_module_level_dataframe_state():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.AnnAssign) and "DataFrame" in ast.unparse(node.annotation):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not offenders, (
        "module-level DataFrame state makes results depend on call order: "
        + ", ".join(offenders)
    )
