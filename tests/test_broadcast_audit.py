"""The source-level F.broadcast() audit of tools/check_plans.py, without a
Spark session: the repo passes it, and a synthetic tree fails it once for
an unlisted call site and once for each stale allowlist entry."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

from check_plans import broadcast_audit  # noqa: E402


def test_repo_passes_broadcast_audit():
    assert broadcast_audit(REPO) == []


def test_audit_flags_unlisted_site_and_stale_entries(tmp_path):
    pkg = tmp_path / "readability_spark"
    pkg.mkdir()
    (pkg / "ops.py").write_text(
        "# F.broadcast(commented) is prose, not a call\n"
        "a = x.join(F.broadcast(small), 'k')\n"
        "b = y.join(F.broadcast(big), 'k')\n"
    )
    allowlist = {
        "readability_spark/ops.py": [
            ("F.broadcast(small)", "bounded"),
            ("F.broadcast(gone)", "its call site was deleted"),
        ],
        "readability_spark/deleted.py": [("F.broadcast(x)", "its file was deleted")],
    }
    unlisted, stale_site, stale_file = broadcast_audit(tmp_path, allowlist)
    assert "readability_spark/ops.py:3" in unlisted and "F.broadcast(big)" in unlisted
    assert "stale" in stale_site and "F.broadcast(gone)" in stale_site
    assert "stale" in stale_file and "readability_spark/deleted.py" in stale_file
