"""The benchmark's workloads.

Each workload prepares its seeded inputs and oracle results, warms the
session up, and then runs passes over its queries.  One query is timed
from the first call into the engine (construction) to the return of its
action; every measurement and check is taken between queries, outside
that interval.

``text_pipelines`` runs the reference's three programs over a generated
Zipfian corpus.  Scan, tokenize, combine, shuffle and the text sink do
the work; the cache registries and eager fixpoint jobs do none, so it is
the bypass workload for any change to caching or construction.

``catalog_cold`` runs eight catalog gates, each from empty caches, to a
noop sink, over tables resampled from the measured marginals of the
engine's sf0.01 testdata.  The first four are dominated by the
per-action job floor and planning; the last four by DataFrame
construction, because their fixpoint, LSH and language-model code runs
eager Spark jobs inside the ``QUERIES[name]`` call.  The cache layer
only writes here.
"""

from __future__ import annotations

import collections
import glob
import importlib
import json
import os
import sys
import time

from py4j.protocol import Py4JError

from lab3_spark.sources.tables import TABLES
from perfbench import datagen, marginals, oracle, probes

# Four gates dominated by the per-action job floor and planning, then
# four dominated by construction: their fixpoint, LSH and language-model
# code runs eager Spark jobs inside the QUERIES[name] call.
CATALOG_GATES = (
    "q3_shipping_priority",
    "q5_region_revenue",
    "events_sessionize",
    "tfidf_top_terms",
    "dedup_clusters",
    "sparse_tfidf_pairs",
    "doc_kn_bigram_logprob",
    "kmeans_centroids",
)
CORPUS_MB = 8.0
TOP_K = 50


class Workload:
    """Base: ``prepare`` makes the inputs and describes them, ``warm_up``
    runs in the set-up phase, ``queries`` lists one pass, ``run_query``
    times one query and returns its record with a ``digest`` of its
    output, and ``expected`` gives the oracle's digests.  The oracle runs
    after the session has stopped, so its memory and CPU never overlap a
    measurement."""

    name = ""
    # passes a run of ``--seconds 10`` makes; other durations scale it
    PASSES_PER_10_S = 1
    # unrecorded passes in the set-up phase, run exactly as measured ones
    WARMUP_PASSES = 0

    def __init__(self, ctx):
        self.ctx = ctx

    def passes(self, seconds: float) -> int:
        return max(1, round(self.PASSES_PER_10_S * seconds / 10))

    def warm_up(self) -> None:
        pass

    def _time_query(self, qname: str, build, action):
        """Construct, optionally plan, and act; returns (df, record)."""
        ctx = self.ctx
        sc = ctx.spark.sparkContext
        group = f"{ctx.run_id}.{ctx.pass_no}.{qname}"
        hits0 = ctx.memo_hits()
        rec = {"query": qname, "pass": ctx.pass_no}
        qid = f"{ctx.pass_no}.{qname}"
        with ctx.tracer.span("query", qid):
            sc.setJobGroup(group + ".construct", qname)
            t0 = time.time()
            df = build(qid)
            t1 = time.time()
            if ctx.tracer.enabled:
                # planning made explicit so its time can be attributed
                sc.setJobGroup(group + ".plan", qname)
                with ctx.tracer.span("plans.executed_plan", qid):
                    df._jdf.queryExecution().executedPlan()
                with ctx.tracer.span("plans.count_exchanges", qid):
                    from lab3_spark.plans.explain import count_exchanges

                    rec["plans.exchanges"] = count_exchanges(df)
            sc.setJobGroup(group + ".action", qname)
            t2 = time.time()
            action(df, qid)
            t3 = time.time()
        sc.setJobGroup(group + ".check", qname)
        rec["wall_s"] = t3 - t0
        rec["operators.construct_s"] = t1 - t0
        rec["plans.plan_s"] = t2 - t1
        rec["exec.action_s"] = t3 - t2
        rec["cache.memo_result_hits"] = ctx.memo_hits() - hits0
        reader = ctx.stages
        c_jobs, a_jobs = reader.jobs(group + ".construct"), reader.jobs(group + ".action")
        rec["operators.construct_jobs"] = len(c_jobs)
        rec["exec.jobs"] = len(c_jobs) + len(a_jobs)
        a_stages = reader.stages(a_jobs)
        rec.update(probes.stage_totals(reader.stages(c_jobs) + a_stages, t0, t3))
        rec["sinks.write_s"] = probes.sink_seconds(a_stages, t3)
        rec["cache.persisted_rdds_exit"], rec["cache.pinned_mb_exit"] = probes.cache_state(ctx.spark)
        return df, rec


class TextPipelines(Workload):
    name = "text_pipelines"
    PASSES_PER_10_S = 2  # about 5 s each on 4 cores
    WARMUP_PASSES = 1

    def prepare(self, seed: int) -> str:
        from lab3_spark.stopwords import STOP_WORDS

        self.corpus = os.path.join(self.ctx.work, "data", f"text-{seed}", "corpus.txt")
        info = datagen.text_corpus(self.corpus, seed, CORPUS_MB, STOP_WORDS)
        return (f"corpus {info['bytes'] / 1e6:.1f} MB, {info['lines']} lines, "
                f"{info['vocabulary']} distinct words")

    def expected(self) -> dict:
        from lab3_spark.stopwords import STOP_WORDS

        return oracle.text_oracles(self.ctx.oracle_cache, self.corpus, STOP_WORDS)

    def queries(self):
        return ("word_count", "top_k", "inverted_index")

    def _build(self, qname: str, qid: str):
        from lab3_spark import sinks
        from lab3_spark.operators.inverted_index import inverted_index
        from lab3_spark.operators.topk import top_k_words
        from lab3_spark.operators.wordcount import word_count
        from lab3_spark.sources.text import read_text_lines

        span = self.ctx.tracer.span
        with span("sources.read_text_lines", qid):
            lines = read_text_lines(self.ctx.spark, self.corpus)
        if qname == "word_count":
            with span("operators.word_count", qid):
                df = word_count(lines)
            with span("sinks.render_keyval_text", qid):
                return sinks.render_keyval_text(df)
        if qname == "top_k":
            with span("operators.top_k_words", qid):
                df = top_k_words(lines, k=TOP_K)
            with span("sinks.render_keyval_text", qid):
                return sinks.render_keyval_text(df)
        with span("operators.inverted_index", qid):
            df = inverted_index(lines, id_col="line_no")
        with span("sinks.render_inverted_index_text", qid):
            return sinks.render_inverted_index_text(df)

    def _out(self, qname: str) -> str:
        return os.path.join(self.ctx.work, "out", qname)

    def _write(self, qname: str):
        def action(df, qid):
            with self.ctx.tracer.span("exec.write_text", qid):
                df.write.mode("overwrite").text(self._out(qname))

        return action

    def run_query(self, qname: str) -> dict:
        _, rec = self._time_query(qname, lambda qid: self._build(qname, qid), self._write(qname))
        lines = []
        for part in sorted(glob.glob(os.path.join(self._out(qname), "part-*"))):
            with open(part, encoding="ascii") as fh:
                lines.extend(fh.read().splitlines())
        rec["digest"] = {"lines": len(lines), "hash": oracle.lines_digest(lines)}
        return rec


class CatalogCold(Workload):
    name = "catalog_cold"  # one pass of 30-40 s on 4 cores

    def prepare(self, seed: int) -> str:
        with open(marginals.MARGINALS) as fh:
            measured = json.load(fh)
        self.data_dir = os.path.join(self.ctx.work, "data", f"catalog-{seed}")
        datagen.catalog_tables(self.data_dir, seed, measured)
        return f"{len(TABLES)} tables resampled from the sf{measured['source_sf']} marginals"

    def expected(self) -> dict:
        from lab3_spark.queries_catalog import ORACLES

        return oracle.catalog_oracles(
            self.ctx.oracle_cache, self.data_dir, TABLES, CATALOG_GATES, ORACLES
        )

    def queries(self):
        return CATALOG_GATES

    def warm_up(self) -> None:
        # First parquet reads and the Python worker pool, as bench.py
        # warms up, and the JIT of the common operators (join, hash
        # aggregate, window, sort, shuffle): without it, how much of a
        # gate's executor time runs as interpreted code varies from run to
        # run.  A warm-up pass over the gates would double the run's
        # length, so each gate's own code generation stays in its time.
        import pandas as pd
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from lab3_spark.sources.tables import load_table

        import_engine_modules()
        spark = self.ctx.spark
        for t in TABLES:
            load_table(spark, self.data_dir, t).count()
        spark.range(256).repartition(8).mapInPandas(
            lambda it: (pd.DataFrame({"id": p["id"]}) for p in it), "id long"
        ).write.format("noop").mode("overwrite").save()
        li = load_table(spark, self.data_dir, "lineitem")
        od = load_table(spark, self.data_dir, "orders")
        by_customer = Window.partitionBy("o_custkey").orderBy("o_orderdate")
        for _ in range(3):
            (li.join(od, li.l_orderkey == od.o_orderkey)
             .groupBy("o_custkey", "o_orderdate")
             .agg(F.sum("l_extendedprice").alias("r"), F.countDistinct("l_partkey").alias("n"))
             .withColumn("rk", F.row_number().over(by_customer))
             .orderBy("r")
             .write.format("noop").mode("overwrite").save())
        reset_caches(spark)

    def run_query(self, qname: str) -> dict:
        from lab3_spark.queries_catalog import QUERIES

        ctx = self.ctx
        left = cache_contents(ctx.spark)  # what the previous gate left behind
        reset_caches(ctx.spark)
        faults = isolation_faults(ctx.spark)
        state0 = module_state()

        def build(qid):
            with ctx.tracer.span(f"queries_catalog.{qname}", qid):
                return QUERIES[qname](ctx.spark, self.data_dir)

        def action(df, qid):
            with ctx.tracer.span("exec.write_noop", qid):
                df.write.format("noop").mode("overwrite").save()

        df, rec = self._time_query(qname, build, action)
        rec["cache.left_by_previous"] = left
        if rec["cache.memo_result_hits"]:
            faults.append(f"{rec['cache.memo_result_hits']} result-memo hits")
        grown = [k for k, n in module_state().items() if n > state0.get(k, 0)]
        if grown:
            # state reset_caches does not know, which the next gate could reuse
            faults.append("unlisted module state grew: " + ", ".join(sorted(grown)))
        rec["digest"] = oracle.frame_digest(df.toPandas())
        if faults:
            rec["error"] = "not cold: " + ", ".join(faults)
        return rec


# The engine keeps its caches in module-level registries with no public
# reset; the benchmark empties them directly to start each gate cold.
def _registries():
    from lab3_spark.functions import partitioning as P
    from lab3_spark.operators import kmeans as K

    return {
        "persist_latest/memo_persist": P._PERSISTED_LATEST,
        "retire_latest": P._RETIRED_LATEST,
        "memo_result": P._RESULT_MEMO,
        "kmeans centroid memo": K._CENTROID_MEMO,
    }


def import_engine_modules() -> None:
    """Import every module of the engine, so that ``module_state`` sees
    the same modules before and after a gate."""
    import pkgutil

    import lab3_spark

    for m in pkgutil.walk_packages(lab3_spark.__path__, "lab3_spark."):
        importlib.import_module(m.name)


def module_state() -> dict[str, int]:
    """Size of every module-level container and ``lru_cache`` of the
    engine, except the registries ``reset_caches`` empties."""
    known = {id(r) for r in _registries().values()}
    out = {}
    for name, mod in list(sys.modules.items()):
        if not name.startswith("lab3_spark"):
            continue
        for attr, v in list(vars(mod).items()):
            if attr.startswith("__") or id(v) in known:
                continue
            if isinstance(v, (dict, list, set, collections.deque)):
                out[f"{name}.{attr}"] = len(v)
            elif callable(getattr(v, "cache_info", None)):
                out[f"{name}.{attr}"] = v.cache_info().currsize
    return out


def cache_contents(spark) -> dict:
    """Entries in each registry, persisted RDDs, and whether Spark's
    cache manager holds anything."""
    out = {name: len(reg) for name, reg in _registries().items()}
    out["persisted RDDs"] = len(spark.sparkContext._jsc.getPersistentRDDs())
    out["cache manager"] = int(not spark._jsparkSession.sharedState().cacheManager().isEmpty())
    return out


def reset_caches(spark) -> None:
    """Release everything the registries and Spark's caches hold."""
    from lab3_spark.functions.partitioning import free_checkpoint

    regs = _registries()
    for df in regs["retire_latest"].values():
        try:
            if not free_checkpoint(df):
                df.unpersist(blocking=True)
        except Py4JError:
            pass  # already released with its session
    for df in regs["persist_latest/memo_persist"].values():
        try:
            df.unpersist(blocking=True)
        except Py4JError:
            pass
    for reg in regs.values():
        reg.clear()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def isolation_faults(spark) -> list[str]:
    """Reasons a gate about to run would not start cold.  Right after
    ``reset_caches`` this checks the reset itself; state the reset does
    not know is caught by comparing ``module_state`` around the gate."""
    faults = [f"{name} not empty" for name, n in cache_contents(spark).items() if n]
    if os.environ.get("SPARK_GRAFT_CODEBOOK_STORE"):
        faults.append("codebook store enabled")
    return faults


WORKLOADS = {w.name: w for w in (TextPipelines, CatalogCold)}
