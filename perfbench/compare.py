#!/usr/bin/env python3
"""Compare two sets of benchmark records (the JSON files a run writes to
``.perfbench_results/``), metric by metric, as medians.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

End-to-end metrics come from untraced records and per-layer metrics from
traced ones; each side also gets its tracing overhead per workload.

Records taken on different hosts (CPU count or model, memory, Spark
parallelism, PySpark or Java version) are refused: numbers are compared
only against runs on the same host.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.host import same_host  # noqa: E402


def load(args: list[str]) -> list[dict]:
    out = []
    for a in args:
        p = Path(a)
        files = sorted(p.glob("*.json")) if p.is_dir() else [p]
        out += [json.loads(f.read_text()) for f in files]
    return out


def medians(records: list[dict]) -> dict[tuple[str, str], float]:
    """Median of every metric per workload: end-to-end ones from untraced
    records, per-layer ones from traced records, plus the tracing overhead
    (median traced ``wall_s`` minus median untraced ``wall_s``)."""
    vals: dict[tuple[str, str], list[float]] = {}
    walls: dict[tuple[str, int], list[float]] = {}
    for r in records:
        section = "per_layer_detail" if r["trace"] else "end_to_end_detail"
        for k, v in r[section].items():
            if isinstance(v, (int, float)):
                vals.setdefault((r["workload"], k), []).append(float(v))
        walls.setdefault((r["workload"], r["trace"]), []).append(
            r["end_to_end_detail"]["wall_s"])
    out = {k: statistics.median(v) for k, v in vals.items()}
    for (wl, traced), w in walls.items():
        if traced and (wl, 0) in walls:
            out[(wl, "trace.overhead_s")] = (
                statistics.median(w) - statistics.median(walls[(wl, 0)]))
    return out


def compare(base: list[dict], new: list[dict]) -> list[str]:
    ref = base[0]["host"]
    for r in base[1:] + new:
        bad = same_host(ref, r["host"])
        if bad:
            raise SystemExit(f"refusing to compare records from different "
                             f"hosts (differ in {', '.join(bad)})")
    mb, mn = medians(base), medians(new)
    lines = []
    for key in sorted(set(mb) & set(mn)):
        b, n = mb[key], mn[key]
        rel = (n - b) / b if b else float("nan")
        lines.append(f"{key[0]:14s} {key[1]:40s} {b:14.4f} {n:14.4f} {rel:+8.1%}")
    return lines


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    for line in compare(load(argv[:i]), load(argv[i + 1:])):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
