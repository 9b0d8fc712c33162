"""``registry_bench``: the 29 bench-tagged registry queries.

A timed pass runs each query at the timed scale (sf0.01) in registry
order, materialized with a ``noop`` write — ``count()``
lets Catalyst prune the output projection and under-measures several
queries — with ``bench.py``'s inter-query hygiene. Each result's row
count rides on its write job through an ``Observation`` and must equal
the count pinned by the strict oracle sweep at that scale. After the
first pass, a seed-chosen set of queries is collected at the check
scale (sf0.001) and compared with its DuckDB oracle under the strict
sweep's comparison rules (``tools/sweep_compare.py``).
"""

from __future__ import annotations

import os
import random
import time

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

from tensei_agent_spark import catalog
from tensei_agent_spark.cache import release_all
from tensei_agent_spark.queries import REGISTRY
from tools.sweep_compare import compare_col, norm

from . import data
from .harness import Outcomes

# Row counts of each bench query at the timed scale (sf0.01), as the
# strict oracle sweep verified them (bit-exact against the DuckDB
# oracles; the three rows-only queries pinned): CORRECTNESS_LOCAL_r12.json.
PINNED_ROWS = {
    "q1_pricing_summary": 6, "q3_shipping_priority": 10,
    "q5_region_revenue": 5, "topk_orders_per_customer": 4492,
    "events_hourly_rollup": 3385, "q6_revenue_forecast": 1,
    "q18_large_volume_customer": 100, "sessionize_events_batch": 9549,
    "session_window_native": 9549, "dedup_ngram_jaccard_fast": 25,
    "dedup_minhash_lsh_fast": 30, "dedup_simhash_pairs": 22664,
    "text_quality": 500, "lang_id": 500, "ann_cosine_topk_fast": 50,
    "q9_profit_by_nation": 175, "gopher_repetition_report": 500,
    "funnel_conversion": 3, "linkage_agreement_patterns": 10,
    "salted_join_revenue": 5, "revenue_holt_forecast": 5,
    "acf_daily_revenue": 35, "ewma_daily_anomalies": 5,
    "fd_discovery_audit": 6, "quality_classifier_scores": 500,
    "embedding_random_projection": 500, "hybrid_search_rrf": 40,
    "boilerplate_coverage": 500, "cms_word_estimates": 30,
}
BENCH_QUERIES = tuple(PINNED_ROWS)
# Queries compared with their DuckDB oracle per run, chosen by the seed.
CHECKED_PER_RUN = 4

PINNED_SF = TIMED_SF = os.path.join(data.TESTDATA, "sf0.01")
CHECK_SF = data.SMALL_SF_DIR


def _compare(got, want) -> None:
    """Raise AssertionError unless the two frames match under the
    strict sweep's rules (column set, row count, per-column values)."""
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        raise AssertionError(f"cols {list(g.columns)} vs {list(w.columns)}")
    if len(g) != len(w):
        raise AssertionError(f"rows {len(g)} vs {len(w)}")
    for c in g.columns:
        compare_col("", c, g[c], w[c])


class RegistryBench(Outcomes):
    name = "registry_bench"
    # One cold pass takes longer than a run's seconds on 4 vCPUs. A
    # second pass, on a faster host, would time a warm registry, a
    # different quantity, and the median of the two would jump; a run
    # times exactly one pass.
    max_iterations = 1

    def __init__(self, spark, work: str, seed: int):
        super().__init__()
        bench = [n for n, q in REGISTRY.items() if q.bench]
        if bench != list(BENCH_QUERIES):
            raise ValueError(f"bench-tagged queries changed: {bench}")
        self.spark = spark
        self.work = work
        self.names = bench
        self.to_check = sorted(random.Random(seed).sample(self.names, CHECKED_PER_RUN))
        self.checked = False
        self.rows_in = 0

    def setup(self) -> None:
        """Session warm-up: the timed scale's parquet schemas (so no timed
        query pays for schema inference that a later one would skip) and
        one tiny Arrow/pandas job (so no timed query pays for starting
        the Python workers). The queries themselves run cold: a full
        warm pass costs as much as the timed pass, more than a run's
        budget allows. Each query's first-execution compile therefore
        stays in its own timing, the same in every run."""
        for t in catalog.TABLES:
            catalog.load(self.spark, TIMED_SF, t)
        self.spark.range(8).mapInPandas(lambda it: it, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        self.table_rows = {
            t: duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{TIMED_SF}/{t}.parquet')"
            ).fetchone()[0]
            for t in catalog.TABLES
        }

    def run_once(self, tracer=None) -> list[float]:
        """One timed pass over every query; returns per-query seconds.
        The first pass of a run is followed by the oracle check."""
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        times, rows_in = [], 0
        for name in self.names:
            q = REGISTRY[name]
            self.attempted += 1
            obs = Observation(f"rows_{name}")
            try:
                t0 = time.perf_counter()
                if tracer is None:
                    if outer is not None:  # per-query job counts, no tracing
                        sc.setJobGroup(f"{outer}/{name}", name)
                    df = q.build(self.spark, TIMED_SF)
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                else:
                    with tracer.span(f"registry.{name}"):
                        with tracer.span(f"registry.{name}.build"):
                            df = q.build(self.spark, TIMED_SF)
                        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                            "noop"
                        ).mode("overwrite").save()
                times.append(time.perf_counter() - t0)
                n = obs.get["n"]
                if TIMED_SF == PINNED_SF and n != PINNED_ROWS[name]:  # tests run smaller
                    self.fail([name], f"{n} rows, pinned {PINNED_ROWS[name]}")
                # Input size: the rows of every table the plan reads.
                files = df.inputFiles()
                rows_in += sum(
                    rows for t, rows in self.table_rows.items()
                    if any(f"/{t}.parquet" in f for f in files)
                )
            except Exception as exc:  # noqa: BLE001 - counted, reported
                self.fail([name], repr(exc))
            sc.setLocalProperty("spark.jobGroup.id", outer)
            # bench.py's inter-query hygiene: drop this query's persisted
            # intermediates and collect garbage before the next one.
            release_all()
            self.spark.catalog.clearCache()
            self.spark.sparkContext._jvm.System.gc()
        self.rows_in = rows_in
        if not self.checked:
            self.checked = True
            self.check()
        return times

    def check(self) -> None:
        """Collect the seed-chosen queries at the check scale and compare
        each with its DuckDB oracle; queries without one only run."""
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb-tmp')}'")
        try:
            for t in catalog.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{CHECK_SF}/{t}.parquet')"
                )
            for name in self.to_check:
                q = REGISTRY[name]
                self.attempted += 1
                try:
                    got = q.build(self.spark, CHECK_SF).toPandas()
                    if q.oracle is not None:
                        _compare(got, con.execute(q.oracle).fetchdf())
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    self.fail([name], f"oracle check at {CHECK_SF}: {exc!r}")
                release_all()
                self.spark.catalog.clearCache()
        finally:
            con.close()

    def source_rows(self) -> int:
        return self.rows_in

    def layer_patches(self, tracer) -> list:
        return []  # run_once opens its own spans

    def layer_metrics(self, tracer, ledger, job_ids) -> dict:
        out = {}
        for name in self.names:
            spans = [
                s for s in tracer.spans
                if s["name"] in (f"registry.{name}", f"registry.{name}.build")
            ]
            out[f"registry.{name}.s"] = sum(
                s["end"] - s["start"] for s in spans if s["parent"] is None
            )
            out[f"registry.{name}.jobs"] = len(ledger.job_ids(s["group"] for s in spans))
        return out

    def out_bytes_ratio(self) -> float:
        return 0.0  # noop writes store nothing

    def close(self) -> None:
        pass
