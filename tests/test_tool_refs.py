"""No stale tool references: every ``tools/<name>.py`` path and every
``tools.<name>`` module named in the repo's Python source exists.

Deleted scripts leave their names behind in docstrings and comments,
which then send a reader to a file that is gone. The scan covers the
package, the tests, the tools and ``bench.py``; word boundaries keep
``itertools.count`` and ``functools.cache`` out of it."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED_DIRS = ("sfdc_cdc_aws_spark", "tests", "tools")
TOOL_PATH = re.compile(r"\btools/(\w+)\.py\b")
TOOL_MODULE = re.compile(r"\btools\.(\w+)\b")


def _scanned_files() -> list[str]:
    files = [os.path.join(REPO, "bench.py")]
    for d in SCANNED_DIRS:
        for root, _, names in os.walk(os.path.join(REPO, d)):
            files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    return sorted(files)


def _stale_refs(text: str) -> list[str]:
    names = {m.group(1) for m in TOOL_PATH.finditer(text)}
    names |= {m.group(1) for m in TOOL_MODULE.finditer(text)}
    return sorted(
        n for n in names if not os.path.isfile(os.path.join(REPO, "tools", f"{n}.py"))
    )


def test_patterns_skip_stdlib_modules_and_catch_both_forms():
    missing = "no_such_tool"  # built by f-string so this file scans clean
    assert _stale_refs("itertools.count(); functools.cache") == []
    assert _stale_refs(f"see tools/{missing}.py") == [missing]
    assert _stale_refs(f"from tools.{missing} import x") == [missing]
    assert _stale_refs("tools/gen_scale_fixture.py, tools.scale_stress") == []


def test_every_named_tool_exists():
    stale = []
    for path in _scanned_files():
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for name in _stale_refs(line):
                    rel = os.path.relpath(path, REPO)
                    stale.append(f"{rel}:{lineno} names tools/{name}")
    assert not stale, "stale tool references:\n" + "\n".join(stale)
