"""``scripts/check_correctness.py`` argument handling: a bad command line is
a usage error before any Spark session starts."""

import subprocess
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "check_correctness.py"


def test_json_without_a_path_is_a_usage_error():
    out = subprocess.run(
        [sys.executable, str(SCRIPT), "--json"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 2, out.stderr
    assert "usage: check_correctness.py [QUERY ...] [--json FILE]" in out.stderr
    assert "Traceback" not in out.stderr
