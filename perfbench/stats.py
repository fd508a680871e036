"""Pure helpers of the benchmark: percentiles, span accounting, store
sizes, names and the ``BENCHMARK.json`` schema. No Spark here, so the tests under
``perfbench/tests`` exercise all of it in milliseconds."""

from __future__ import annotations

import math
import os
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH_RE = re.compile(r"^[A-Za-z0-9_.\-/]{1,200}$")

# Candidate tail percentiles, highest last.
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_xs: list[float], p: float) -> tuple[int, float]:
    """(1-based rank, value) of the nearest-rank ``p``-th percentile."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(p / 100.0 * n))
    return rank, sorted_xs[rank - 1]


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """The highest of :data:`TAIL_PERCENTILES` that still has at least
    :data:`TAIL_MIN_BEYOND` samples ranked beyond it, as
    ``(percentile, value)``; ``None`` when even the median has fewer."""
    s = sorted(xs)
    best = None
    for p in TAIL_PERCENTILES:
        rank, value = nearest_rank(s, p) if s else (0, 0.0)
        if s and len(s) - rank >= TAIL_MIN_BEYOND:
            best = (p, value)
    return best


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus its direct
    children's, summed by ``layer``. Spans are dicts with ``id``,
    ``parent`` (id or None), ``layer``, ``start`` and ``end``."""
    child_sum: dict[int, float] = {}
    for sp in spans:
        if sp["parent"] is not None:
            child_sum[sp["parent"]] = child_sum.get(sp["parent"], 0.0) + (
                sp["end"] - sp["start"])
    out: dict[str, float] = {}
    for sp in spans:
        own = (sp["end"] - sp["start"]) - child_sum.get(sp["id"], 0.0)
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + max(0.0, own)
    return out


def residual(spans: list[dict], windows: list[tuple[float, float]]) -> float:
    """Wall time inside the timed ``windows`` not covered by any root span
    (root spans are sequential: one client, one thread)."""
    covered = 0.0
    for sp in spans:
        if sp["parent"] is not None:
            continue
        for lo, hi in windows:
            covered += max(0.0, min(sp["end"], hi) - max(sp["start"], lo))
    total = sum(hi - lo for lo, hi in windows)
    return max(0.0, total - covered)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) when it does not exist."""
    size = files = 0
    for dp, _, fns in os.walk(path):
        for f in fns:
            size += os.path.getsize(os.path.join(dp, f))
            files += 1
    return size, files


def check_names(names: list[str]) -> None:
    """Metric and workload names: ``[A-Za-z0-9_.-]``, letter or digit
    first, at most 64 characters, each used once."""
    seen: set[str] = set()
    for n in names:
        if not NAME_RE.match(n):
            raise ValueError(f"invalid name {n!r}")
        if n in seen:
            raise ValueError(f"name used twice: {n!r}")
        seen.add(n)


def check_benchmark_json(spec: dict) -> None:
    """Validate a ``BENCHMARK.json`` document against the benchmark
    contract; raises ``ValueError`` naming the first violation."""
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end",
            "per_layer"}
    if set(spec) != keys:
        raise ValueError(f"keys must be exactly {sorted(keys)}")
    cmd = spec["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32
            and all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        raise ValueError("command: 1-32 strings of at most 200 characters")
    paths = spec["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        raise ValueError("paths: 1-16 entries")
    for p in paths:
        if not PATH_RE.match(p) or p.startswith("/") or ".." in p.split("/"):
            raise ValueError(f"bad path {p!r}")
    for c in cmd[1:]:
        if c.startswith("/") or ".." in c.split("/"):
            raise ValueError(f"command argument leaves the repo: {c!r}")
    rs = spec["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        raise ValueError("run_seconds: whole number 1-60")
    wl = spec["workloads"]
    if not (isinstance(wl, list) and 2 <= len(wl) <= 8):
        raise ValueError("workloads: 2-8 entries")
    for w in wl:
        if set(w) != {"name", "why"}:
            raise ValueError(f"workload keys must be name, why: {w}")
        if "\n" in w["why"] or not 1 <= len(w["why"]) <= 200:
            raise ValueError(f"workload why must be one line <= 200 chars: {w}")
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    if not (isinstance(e2e, list) and 1 <= len(e2e) <= 16):
        raise ValueError("end_to_end: 1-16 metrics")
    if not (isinstance(layer, list) and 1 <= len(layer) <= 128):
        raise ValueError("per_layer: 1-128 metrics")
    for m in e2e:
        if set(m) != {"name", "unit", "better", "bound"}:
            raise ValueError(f"end_to_end keys: {m}")
        b = m["bound"]
        if not (isinstance(b, (int, float)) and 0 < b <= 0.25):
            raise ValueError(f"bound must be in (0, 0.25]: {m}")
    for m in layer:
        if set(m) != {"name", "unit", "better"}:
            raise ValueError(f"per_layer keys: {m}")
    for m in e2e + layer:
        if m["better"] not in ("lower", "higher"):
            raise ValueError(f"better must be lower or higher: {m}")
        if not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad unit: {m}")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        raise ValueError("end_to_end must hold setup_s in s, lower better")
    check_names([w["name"] for w in wl])
    check_names([m["name"] for m in e2e + layer])
