"""tools/measure.py argument contract: a run needs at least one rep."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parents[1] / "tools" / "measure.py"


def _load():
    spec = importlib.util.spec_from_file_location("measure_tool", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("reps", ["0", "-1"])
def test_reps_below_one_rejected_at_parse(monkeypatch, capsys, reps):
    measure = _load()
    monkeypatch.setattr(
        sys, "argv", ["measure.py", "--queries", "q1_pricing_summary", "--reps", reps]
    )
    with pytest.raises(SystemExit) as exc:
        measure.main()
    assert exc.value.code == 2  # argparse usage error, before any Spark work
    assert "--reps" in capsys.readouterr().err
