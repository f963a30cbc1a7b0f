"""Workload ``analytics_queries``: a fixed mix of registered relational and
curation entries over seeded, read-only fixtures, one closed loop with
one client. Every result goes in full to a ``noop`` sink, so the
optimizer cannot drop joins, windows, expands or JSON parsing the way a
``count()`` lets it. The warm-up pass collects every entry's result and
hash-compares it with its DuckDB oracle, evaluated with Spark's
``ROUND`` semantics (``checks.spark_round``)."""

from __future__ import annotations

import os
import time

import checks
import gen
from stats import Samples, gmean, median
from tracer import sql_sum

RELATIONAL = (
    "q1_pricing_summary", "q3_unshipped_orders", "q5_region_revenue",
    "q6_forecast_revenue", "agg_distinct_counts", "join_left_outer",
    "window_running", "json_extract",
)
# JVM-only entries first; the Python-worker entries last, so the worker
# pool they start does not sit beside the JVM-only timings of the pass
CURATION = (
    "text_quality", "bm25_scores", "dedup_minhash_lsh", "ann_cosine_ivf_knn",
    "dedup_embedding_cosine", "multimodal_wav_decode", "topk_per_group",
)
ENTRIES = RELATIONAL + CURATION
LAYER_OF = {
    **{e: "queries" for e in RELATIONAL},
    "text_quality": "text", "bm25_scores": "text",
    "dedup_minhash_lsh": "dedup",
    "ann_cosine_ivf_knn": "similarity", "dedup_embedding_cosine": "similarity",
    "multimodal_wav_decode": "multimodal",
    # a mapInPandas prune: the entry exists for its Arrow crossing
    "topk_per_group": "arrow",
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
MIN_PASSES = 1
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "MapInArrow",
                "PythonMapInArrow", "ArrowWindowPython", "ArrowAggregatePython")


class Analytics:
    def __init__(self, ctx):
        import __spark_entry__ as ent

        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.queries = ent.queries()
        self.oracle = ent.oracle_sql()
        self.fx = f"{ctx.work}/fixtures"
        self.samples = Samples()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.result_rows: dict[str, int] = {}

    def make_inputs(self) -> None:
        self.fixture_rows = gen.write_star_schema(self.fx, self.ctx.seed)

    def _run(self, name: str, sink, sql: bool = False):
        self.attempted += 1
        with self.tr.span(LAYER_OF[name], name, sql=sql):
            try:
                return sink(self.queries[name](self.spark, self.fx))
            except Exception as e:
                self.failed += 1
                self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
                raise

    def run_pass(self, t_window: float, p: int) -> None:
        self.tr.cycle = p
        for name in ENTRIES:
            t0 = time.perf_counter()
            # operator metrics only where a per-layer metric needs them
            self._run(name, lambda df: df.write.format("noop")
                      .mode("overwrite").save(), sql=name in CURATION)
            self.samples.add(name, t0 - t_window, time.perf_counter() - t0, p)

    def check_pass(self) -> tuple[float, float]:
        """The warm-up: every entry runs once, its full result collected
        and hash-compared with its DuckDB oracle. Returns (engine seconds,
        check seconds); only the engine's share counts as set-up."""
        import duckdb
        from duckdb.typing import DOUBLE, INTEGER

        self.tr.cycle = "check"
        con = duckdb.connect()
        con.create_function("spark_round", checks.spark_round,
                            [DOUBLE, INTEGER], DOUBLE)
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.fx, t)}.parquet'")
        engine_s = check_s = 0.0
        for name in ENTRIES:
            t0 = time.perf_counter()
            got = self._run(name, lambda df: df.toPandas())
            t1 = time.perf_counter()
            self.result_rows[name] = len(got)
            try:
                checks.check_oracle(name, got, con.sql(
                    checks.with_spark_rounding(self.oracle[name])).df())
            except checks.CheckFailed as e:
                self.failed += 1
                self.errors.append(f"check {name}: {e}"[:500])
            engine_s += t1 - t0
            check_s += time.perf_counter() - t1
        con.close()
        return engine_s, check_s

    def named(self) -> dict:
        """The workload's own per-kind metrics (kept in every record)."""
        ms = 1000.0
        return {
            "relational_gmean_ms": gmean([self.samples.p50(e) * ms
                                          for e in RELATIONAL]),
            "curation_gmean_ms": gmean([self.samples.p50(e) * ms
                                        for e in CURATION]),
        }

    def layer_metrics(self) -> dict:
        spans = [s for s in self.tr.spans if s["cycle"] != "check"]
        out = {}
        for e in RELATIONAL:
            v = [s["counters"]["wall_ms"] for s in spans if s["name"] == e]
            out[f"queries.{e}_ms"] = median(v) if v else 0.0

        def joins(s):
            return sum(n["metrics"].get("number of output rows") or 0.0
                       for n in s.get("sql", []) if "Join" in n["node"])

        sim = [joins(s) / self.fixture_rows["embeddings"] for s in spans
               if s["layer"] == "similarity"]
        out["similarity.pairs_scored_per_input_row"] = median(sim) if sim else 0.0
        out_pairs = max(1, self.result_rows.get("dedup_minhash_lsh", 1))
        dd = [joins(s) / out_pairs for s in spans if s["layer"] == "dedup"]
        out["dedup.candidate_pairs_per_output_pair"] = median(dd) if dd else 0.0
        py = [s for s in spans if any(
            n["node"].startswith(PYTHON_NODES) for n in s.get("sql", []))]
        for metric, sql_name, scale in (
                ("arrow.bytes_to_python", "data sent to Python workers", 1),
                ("arrow.bytes_from_python", "data returned from Python workers",
                 1),
                ("arrow.python_ms", "time to run Python workers", 1000)):
            vals = [sum(sql_sum(s, p, sql_name) for p in PYTHON_NODES) * scale
                    for s in py]
            out[metric] = median(vals) if vals else 0.0
        return out


def run(ctx) -> dict:
    wl = Analytics(ctx)
    t = time.perf_counter()
    wl.make_inputs()
    gen_s = time.perf_counter() - t

    warm_s, check_s = wl.check_pass()

    t_window = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_window < ctx.seconds:
        wl.run_pass(t_window, passes)
        passes += 1
    window_s = time.perf_counter() - t_window

    return {
        "setup_s": ctx.session_s + warm_s,
        "read_kinds": RELATIONAL,
        "heavy_kinds": CURATION,
        "named": wl.named(),
        "per_layer": wl.layer_metrics() if ctx.tracer.enabled else {},
        "attempted": wl.attempted,
        "failed": wl.failed,
        "errors": wl.errors,
        "samples": wl.samples.summary(window_s),
        "setup": {"session_s": ctx.session_s, "warmup_s": warm_s,
                  "untimed_input_gen_s": gen_s, "untimed_check_s": check_s},
        "window": {"seconds": window_s, "passes": passes},
        "fixture_rows": wl.fixture_rows,
        "result_rows": wl.result_rows,
    }
