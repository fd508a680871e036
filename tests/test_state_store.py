"""The stores' shared staged directory swap (``state_store.swap_in`` /
``heal_swap``) on the local filesystem: every crash window of the swap
heals to exactly one live copy, and a failed promote rolls back. Plain
directories with one marker file each; no Spark job runs."""

from __future__ import annotations

import os

import pytest

from fest_vibes_ai_etl_spark.streaming.state_store import heal_swap, swap_in


def _mkdir(path, tag):
    os.makedirs(path)
    with open(os.path.join(path, "tag"), "w") as fh:
        fh.write(tag)


def _tag(path):
    with open(os.path.join(path, "tag")) as fh:
        return fh.read()


@pytest.fixture
def paths(tmp_path):
    base = str(tmp_path / "store")
    return base, base + "_stage", base + "_aside"


def test_heal_swap_steady_state_finds_nothing(spark, paths):
    live, staged, aside = paths
    _mkdir(live, "live")
    assert heal_swap(spark, live, staged, aside) is False
    assert _tag(live) == "live"
    # no live directory at all is also a clean state, not a crash
    assert heal_swap(spark, live + "_never", staged, aside) is False


def test_heal_swap_drops_staging_only(spark, paths):
    """Crash before the first rename: live untouched, staging dropped."""
    live, staged, aside = paths
    _mkdir(live, "live")
    _mkdir(staged, "new")
    assert heal_swap(spark, live, staged, aside) is True
    assert _tag(live) == "live"
    assert not os.path.exists(staged)


def test_heal_swap_promotes_staged_between_renames(spark, paths):
    """Crash between the renames: the staged copy is complete, promote it."""
    live, staged, aside = paths
    _mkdir(aside, "old")
    _mkdir(staged, "new")
    assert heal_swap(spark, live, staged, aside) is True
    assert _tag(live) == "new"
    assert not os.path.exists(staged) and not os.path.exists(aside)


def test_heal_swap_restores_aside_when_staging_gone(spark, paths):
    live, staged, aside = paths
    _mkdir(aside, "old")
    assert heal_swap(spark, live, staged, aside) is True
    assert _tag(live) == "old"
    assert not os.path.exists(aside)


def test_heal_swap_deletes_superseded_aside(spark, paths):
    """Crash after the promote, before the aside copy was deleted."""
    live, staged, aside = paths
    _mkdir(live, "new")
    _mkdir(aside, "old")
    assert heal_swap(spark, live, staged, aside) is True
    assert _tag(live) == "new"
    assert not os.path.exists(aside)


def test_swap_in_replaces_live(spark, paths):
    live, staged, aside = paths
    _mkdir(live, "old")
    _mkdir(staged, "new")
    swap_in(spark, live, staged, aside, "test swap")
    assert _tag(live) == "new"
    assert not os.path.exists(staged) and not os.path.exists(aside)


def test_swap_in_rolls_back_when_staged_missing(spark, paths):
    live, staged, aside = paths
    _mkdir(live, "old")
    with pytest.raises(RuntimeError, match="test swap: rename") as exc:
        swap_in(spark, live, staged, aside, "test swap")
    assert "ROLLBACK ALSO FAILED" not in str(exc.value)
    assert _tag(live) == "old"
    assert not os.path.exists(aside)
