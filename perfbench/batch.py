"""Batch workloads: registered queries run in process through the noop sink.

- ``curation_batch``: the LLM-data operators (near-duplicate detection,
  ANN search, text curation), where driver-side DataFrame construction
  in ``operators``/``queries`` is most of the wall time.
- ``tpch_analytics``: SQL analytics, where Spark execution is most of
  the wall time and construction is small.

A pass runs every query of the set once, in a seeded order: build the
DataFrame (``QuerySpec.spark``), then write it to the noop sink. The
first pass is the warm-up and is checked with ``oracle.compare`` against
DuckDB.
"""

from __future__ import annotations

import gc
import importlib
import time


class Batch:
    setup_reps = 1
    warmup_passes = 1
    op_kinds = ("query",)
    #: query modules to import, query names, artifact kinds they read
    modules: tuple[str, ...] = ()
    queries: tuple[str, ...] = ()
    artifacts: tuple[str, ...] = ()

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def setup(self) -> dict[str, float]:
        ctx = self.ctx
        t0 = time.perf_counter()
        for m in self.modules:
            importlib.import_module(f"{ctx.package}.queries.{m}")
        self.specs = ctx.pkg("queries").REGISTRY
        t1 = time.perf_counter()
        prewarmers = ctx.pkg("queries.artifacts").PREWARMERS
        for kind in self.artifacts:
            prewarmers[kind](ctx.spark, ctx.sf_dir)
        t2 = time.perf_counter()
        return {"registry.import_s": t1 - t0, "artifacts.build_s": t2 - t1}

    def close(self) -> None:
        pass

    def run_pass(self, checking: bool = False) -> list[tuple[str, str]]:
        ctx, rec = self.ctx, self.ctx.rec
        oracle = ctx.pkg("oracle") if checking else None
        problems = []
        order = list(self.queries)
        ctx.rng.shuffle(order)
        for name in order:
            spec = self.specs[name]
            try:
                if checking:
                    with rec.op("query", name):
                        res = oracle.compare(spec, ctx.spark, ctx.sf_dir)
                    if not res.ok:
                        problems.append((name, res.detail))
                else:
                    self._run(name, spec)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                problems.append((name, f"{type(exc).__name__}: {exc}"))
            # release the previous query's pinned blocks and broadcasts
            # before the next one is timed
            gc.collect()
        return problems

    def _run(self, name: str, spec) -> None:
        ctx, rec = self.ctx, self.ctx.rec
        if not rec.tracing:
            with rec.op("query", name):
                df = spec.spark(ctx.spark, ctx.sf_dir)
                df.write.format("noop").mode("overwrite").save()
            return
        build: dict = {}
        execd: dict = {}
        with rec.op("query", name):
            t0 = time.perf_counter()
            with rec.span(f"build.{name}"), \
                    ctx.counters.group("build", build):
                df = spec.spark(ctx.spark, ctx.sf_dir)
            t1 = time.perf_counter()
            with rec.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with ctx.counters.group("exec", execd):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        rec.sample("build.s", t1 - t0)
        rec.sample("build.jobs", build["jobs"])
        rec.sample("catalyst.plan_ms", (t2 - t1) * 1000)
        rec.sample("exec.s", t3 - t2)
        for k, v in execd.items():
            rec.sample(f"exec.{k}", v)


class CurationBatch(Batch):
    name = "curation_batch"
    sf = 0.01
    modules = ("dedup", "similarity", "text")
    queries = ("dedup_minhash_lsh", "dedup_simhash", "sql_dedup_simhash",
               "dedup_ngram_jaccard", "ann_cosine_topk_ivf",
               "text_perplexity_buckets", "search_hybrid_rrf")
    artifacts = ("ivf_index",)


class TpchAnalytics(Batch):
    name = "tpch_analytics"
    sf = 0.1
    modules = ("core", "tpch_global", "tpch_extra", "events")
    queries = ("q1_pricing_summary", "q3_shipping_priority",
               "q5_region_revenue", "q6_forecast_revenue",
               "nation_market_share", "cube_status_priority",
               "window_top_orders_per_customer", "events_sessionization",
               "events_funnel_conversion")
