"""Tests of the benchmark's pure logic (no Spark):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import compare, gen, host, stats  # noqa: E402
from perfbench.spans import parse_metric  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(list(range(10))) is None
    # 20 samples: p50 leaves 10 beyond it, p75 only 5
    assert stats.tail_percentile([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    # 200 samples: p95 leaves 10 beyond it, p99 only 2
    p, v = stats.tail_percentile([float(i) for i in range(1, 201)])
    assert (p, v) == (95.0, 190.0)


def test_tail_percentile_ignores_input_order():
    xs = [float(i) for i in range(1, 101)]
    assert stats.tail_percentile(xs[::-1]) == stats.tail_percentile(xs) == (90.0, 90.0)


def _span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_times_subtract_direct_children():
    spans = [
        _span(0, None, "streaming", 0.0, 10.0),
        _span(1, 0, "operators", 1.0, 4.0),
        _span(2, 1, "spark", 2.0, 3.5),
        _span(3, 0, "spark", 5.0, 9.0),
    ]
    st = stats.self_times(spans)
    assert st == pytest.approx({"streaming": 3.0, "operators": 1.5, "spark": 5.5})
    assert sum(st.values()) == pytest.approx(10.0)


def test_residual_is_window_time_outside_root_spans():
    spans = [_span(0, None, "plans", 1.0, 2.0), _span(1, None, "spark", 2.0, 4.5),
             _span(2, 1, "spark", 2.5, 3.0)]
    assert stats.residual(spans, [(0.5, 5.0)]) == pytest.approx(1.0)
    assert stats.residual([], [(0.0, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)


def test_name_validity():
    stats.check_names(["wall_s", "spark.exec_s", "plans.tpch_extra.s", "9x-y"])
    for bad in ("", "_lead", "has space", "slash/x", "x" * 65):
        with pytest.raises(ValueError):
            stats.check_names([bad])
    with pytest.raises(ValueError):
        stats.check_names(["a", "a"])


def test_benchmark_json_in_repo_is_valid():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    stats.check_benchmark_json(spec)
    assert spec["paths"] == ["perfbench"]
    assert {w["name"] for w in spec["workloads"]} == {"catalog", "pipeline_daily"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_benchmark_json_names_each_frozen_query_module():
    from perfbench.catalog_wl import plans_modules

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    named = {m["name"] for m in spec["per_layer"]
             if m["name"].startswith("plans.") and m["name"] != "plans.build_s"}
    assert named == {f"plans.{m}.s" for m in plans_modules()}


@pytest.mark.parametrize("mutate", [
    lambda s: s.pop("per_layer"),
    lambda s: s.__setitem__("run_seconds", 61),
    lambda s: s["end_to_end"][0].__setitem__("bound", 0.3),
    lambda s: s["end_to_end"].pop(0),  # setup_s missing
    lambda s: s["workloads"].append({"name": "catalog", "why": "twice"}),
    lambda s: s["paths"].append("../elsewhere"),
    lambda s: s["per_layer"][0].__setitem__("unit", "a unit"),
])
def test_benchmark_json_rejects(mutate):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = copy.deepcopy(spec)
    mutate(spec)
    with pytest.raises(ValueError):
        stats.check_benchmark_json(spec)


def test_catalog_generator_is_deterministic():
    a, b, c = gen.catalog_tables(5), gen.catalog_tables(5), gen.catalog_tables(6)
    assert gen.tables_digest(a) == gen.tables_digest(b)
    assert gen.tables_digest(a) != gen.tables_digest(c)


def test_pipeline_generator_is_deterministic_and_plants_truth():
    a, b = gen.pipeline_day(5, 2, 2), gen.pipeline_day(5, 2, 2)
    assert gen.digest(a["rows"]) == gen.digest(b["rows"])
    assert gen.digest(a["rows"]) != gen.digest(gen.pipeline_day(5, 3, 2)["rows"])
    assert gen.bronze_table(a["rows"]).num_rows == len(a["rows"])
    assert len(a["dates"]) == 2
    assert len(a["events"]) == 2 * (gen.EVENTS_PER_DATE + gen.CANCELLED_PER_DATE)
    invalid = [r for r in a["rows"]
               if not (r["artist_data"]["name"] or "").strip()
               or not (r["venue_data"]["name"] or "").strip()
               or not r["event_data"]["event_date"]]
    assert len(invalid) == a["invalid"] == gen.INVALID_PER_RUN
    # re-scraped events appear twice; the later scrape carries the truth
    latest = {}
    for r in a["rows"]:
        if r not in invalid:
            h = r["event_data"]["wwoz_event_href"]
            if h not in latest or r["scrape_time"] > latest[h]["scrape_time"]:
                latest[h] = r
    assert {h: (r["event_data"]["event_date"], r["event_data"]["description"])
            for h, r in latest.items()} == a["events"]
    per_date = gen.EVENTS_PER_DATE - gen.NEW_PER_DATE + gen.EVENTS_PER_DATE
    assert len(a["rows"]) == 2 * (per_date + gen.CANCELLED_PER_DATE) + gen.INVALID_PER_RUN
    # the change log replays to today's listings: cancelled events deleted
    live = gen.replay_cdc(a["changes"])
    assert len(live) == 2 * gen.EVENTS_PER_DATE
    assert all(a["events"][h][1] == v for h, v in live.items())
    names = {r["artist_data"]["name"] for r in latest.values()}
    assert names <= a["artists"] and len(a["venues"]) <= gen.N_VENUES


def test_dir_stats_counts_bytes_and_files(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x").write_bytes(b"12345")
    (tmp_path / "y").write_bytes(b"12")
    assert stats.dir_stats(str(tmp_path)) == (7, 2)
    assert stats.dir_stats(str(tmp_path / "missing")) == (0, 0)


def test_cdc_replay_is_last_writer_wins():
    log = [{"k": 1, "val": "a", "op": "u", "version": 1},
           {"k": 1, "val": "b", "op": "u", "version": 3},
           {"k": 1, "val": "c", "op": "u", "version": 2},
           {"k": 2, "val": "x", "op": "u", "version": 4},
           {"k": 2, "val": "x", "op": "d", "version": 5}]
    assert gen.replay_cdc(log) == {1: "b"}


def test_parse_metric_forms():
    assert parse_metric("10,000") == 10000
    assert parse_metric("19 ms") == pytest.approx(0.019)
    assert parse_metric("64.2 MiB") == pytest.approx(64.2 * 1024**2)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "3.7 s (834 ms, 959 ms, 1.0 s (stage 0.0: task 0))") == 3.7


def test_compare_refuses_other_hosts():
    h = {"nproc": 4, "cpu_model": "x", "mem_total_kb": 1, "spark_graft_cpus": "4",
         "shuffle_partitions": "32", "pyspark": "4.1.2", "java": "17"}
    rec = {"workload": "catalog", "trace": 0, "host": h,
           "end_to_end_detail": {"wall_s": 2.0}}
    other = copy.deepcopy(rec)
    other["host"]["nproc"] = 32
    other["end_to_end_detail"]["wall_s"] = 1.0
    assert host.same_host(h, other["host"]) == ["nproc"]
    with pytest.raises(SystemExit):
        compare.compare([rec], [other])
    same = copy.deepcopy(rec)
    same["end_to_end_detail"]["wall_s"] = 3.0
    (line,) = compare.compare([rec], [same])
    assert "wall_s" in line and "+50.0%" in line


def test_tracing_overhead_is_traced_minus_untraced_wall():
    def rec(trace, wall):
        return {"workload": "catalog", "trace": trace,
                "end_to_end_detail": {"wall_s": wall},
                "per_layer_detail": {"spark.jobs": 70}}

    m = compare.medians([rec(0, 10.0), rec(0, 12.0), rec(0, 11.0), rec(1, 11.5)])
    assert m[("catalog", "trace.overhead_s")] == pytest.approx(0.5)
    assert m[("catalog", "wall_s")] == 11.0
    assert m[("catalog", "spark.jobs")] == 70
