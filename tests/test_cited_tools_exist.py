"""Every ``tools/<name>.py`` that engine code, a test or ``bench.py`` cites
must exist, so a docstring cannot point a reader at a deleted script."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CITE = re.compile(r"\btools/(\w+)\.py\b")


def test_every_cited_tool_exists():
    sources = [ROOT / "bench.py"]
    for sub in ("ssidentity_spark", "tests"):
        sources += sorted((ROOT / sub).rglob("*.py"))
    missing = {
        f"{src.relative_to(ROOT)}: tools/{name}.py"
        for src in sources
        for name in CITE.findall(src.read_text())
        if not (ROOT / "tools" / f"{name}.py").exists()
    }
    assert not missing, sorted(missing)
