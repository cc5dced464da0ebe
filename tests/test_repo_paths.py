"""The code finds its own checkout from ``__file__``: no ``.py`` file in the
package, the tests, the tools or at the repo root spells out the absolute
path of a checkout of this repo, so a second checkout (a parent-commit
copy for an A/B run, say) imports, tests and writes into itself, not
into the first."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# an absolute path anywhere in the text: code, strings, comments, docstrings
_ABS_PATH = re.compile(r"(?<![\w.])/(?:[\w.\-]+/?)+")


def _in_a_checkout(path: Path) -> bool:
    return any(
        (p / "databricks_observe_spark" / "__init__.py").is_file()
        for p in (path, *path.parents)
        if p != p.parent
    )


def test_no_py_file_hard_codes_a_checkout_path():
    files = list(ROOT.glob("*.py"))
    for d in ("databricks_observe_spark", "tests", "tools"):
        files += (ROOT / d).rglob("*.py")
    hits = [
        f"{f.relative_to(ROOT)}: {lit}"
        for f in sorted(files)
        for lit in sorted(set(_ABS_PATH.findall(f.read_text())))
        if _in_a_checkout(Path(lit))
    ]
    assert not hits, hits
