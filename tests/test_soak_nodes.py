"""The soak list (``tests/soak_nodes.txt``) must name existing tests: a
renamed soak test silently leaves the soak set and lands in the default
suite, and a stale id marks nothing."""

from __future__ import annotations

import re
from pathlib import Path

_TESTS = Path(__file__).parent


def test_every_soak_id_names_a_test_function():
    ids = [
        ln.strip()
        for ln in (_TESTS / "soak_nodes.txt").read_text().splitlines()
        if ln.strip()
    ]
    assert ids
    missing = []
    for node in ids:
        path, _, name = node.partition("::")
        name = name.split("::")[-1].split("[", 1)[0]
        file = _TESTS.parent / path
        src = file.read_text() if file.exists() else ""
        if not re.search(rf"^\s*(async\s+)?def {re.escape(name)}\(", src, re.M):
            missing.append(node)
    assert not missing, f"soak ids with no matching test: {missing}"
