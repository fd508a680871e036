"""``catalog`` workload: the analyst query surface.

A frozen list of the catalog's bench queries runs over seeded TPC-H-ish,
events, documents and embeddings tables. Each pass runs the list in an
order permuted by the seed; each op builds the query's DataFrame (the
``plans`` layer) and delivers its full result with ``collect()``. After
the timers stop every result is compared with the query's DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import shutil

from perfbench import gen
from perfbench.spans import planning_ms

# Frozen subset of the catalog's ``bench=True`` queries: TPC-H joins,
# ROADMAP direction 2's bloom join, direction 5's dedup and text queries,
# event sessions and top-k. The full set of 40
# plus its persisted-index builds takes longer than one run's share of the
# benchmark's time budget on a 4-core host. ``ann_topk_cosine`` is left
# out: its plan and its oracle round cosines at an exact fifth-decimal 5
# differently (Spark 0.78275 -> 0.7828, DuckDB -> 0.7827), so about one
# seed in five fails its oracle check until the query rounds through
# ``functions/rounding.py`` on both sides.
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "bloom_semi_join_revenue",
    "events_sessionization",
    "topk_pruned_per_user",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "text_tfidf_top_terms",
)

# Load-or-build artifacts the catalog's prepare steps leave under the
# checkout's spark-warehouse/; removed before every set-up so each run
# pays the same build.
ARTIFACTS = ("ivf_index", "postings", "pq_codes", "shingle_sig", "cs_graph")
SETUP_REPS = 3


def clear_artifacts(ctx) -> None:
    for name in ARTIFACTS:
        shutil.rmtree(ctx.root / "spark-warehouse" / name, ignore_errors=True)


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


class Catalog:
    name = "catalog"

    def __init__(self, ctx):
        self.ctx = ctx
        from fest_vibes_ai_etl_spark.plans.catalog import REGISTRY, bench_queries

        bench = bench_queries()
        missing = [q for q in QUERIES if q not in bench]
        if missing:
            raise RuntimeError(f"catalog lost bench queries: {missing}")
        self.specs = {q: REGISTRY[q] for q in QUERIES}
        self.data = str(ctx.work / "tables")
        tables = gen.catalog_tables(ctx.seed)
        ctx.input_bytes = gen.write_tables(tables, self.data)
        ctx.input_digest = gen.tables_digest(tables)
        self.results: list[tuple[str, list, list]] = []
        self.rng = random.Random(ctx.seed)

    def setup_once(self) -> None:
        """Prepare steps (persisted-index builds) from a cold artifact
        state, and a warm-up query that starts the executors."""
        spark = self.ctx.spark
        clear_artifacts(self.ctx)
        for spec in self.specs.values():
            if spec.prepare is not None:
                spec.prepare(spark, self.data)
        spark.catalog.clearCache()
        self.specs[QUERIES[0]].fn(spark, self.data).collect()

    def setup_reps(self) -> int:
        return SETUP_REPS

    def sequence(self) -> None:
        """One pass over the frozen list in a seed-permuted order."""
        ctx, spark = self.ctx, self.ctx.spark
        order = list(QUERIES)
        self.rng.shuffle(order)
        for name in order:
            spec = self.specs[name]
            module = spec.fn.__module__.rsplit(".", 1)[-1]
            op = ctx.begin_op(name)
            df = rows = None
            try:
                with ctx.tracer.span(f"plans.{module}", "plans"):
                    df = spec.fn(spark, self.data)
                rows = df.collect()
            except Exception as exc:  # one broken query must not end the run
                ctx.end_op(op, error=exc)
                spark.catalog.clearCache()
                continue
            ctx.end_op(op)
            spark.catalog.clearCache()
            if ctx.trace:
                for k, v in planning_ms(df).items():
                    ctx.add_layer(f"spark.{k}_ms", v)
                b = [s for s in ctx.tracer.spans if s["op"] == op["id"]
                     and s["name"].startswith("plans.") and s["parent"] is None]
                for s in b:
                    ctx.add_layer("plans.build_s", s["end"] - s["start"])
                    ctx.add_layer(f"{s['name']}.s", s["end"] - s["start"])
            self.results.append((op["id"], df.columns, [tuple(r) for r in rows]))

    def check(self) -> None:
        """Oracle comparison of every collected result (after all timers)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("region nation customer supplier part orders lineitem "
                      "events documents embeddings").split():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data}/{t}.parquet'")
            for op_id, cols, rows in self.results:
                name = self.ctx.ops[op_id]["name"]
                res = con.execute(self.specs[name].oracle)
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                if not (sorted(cols) == sorted(dcols)
                        and _rows(cols, rows) == _rows(dcols, drows)):
                    self.ctx.fail_op(op_id, "result differs from the DuckDB oracle")
        finally:
            con.close()
        self.results.clear()

    def finish(self) -> None:
        clear_artifacts(self.ctx)


def plans_modules() -> list[str]:
    """Module of each frozen query (the ``plans.<module>.s`` names)."""
    from fest_vibes_ai_etl_spark.plans.catalog import REGISTRY, _load

    _load()
    return sorted({REGISTRY[q].fn.__module__.rsplit(".", 1)[-1] for q in QUERIES})
