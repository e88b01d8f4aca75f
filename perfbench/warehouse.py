"""warehouse_queries: read-only registered queries in a seeded order.

One op is one registered query, run to a pandas result the way a user
collects it. The mix holds TPC-H shapes and the flagship explode +
count-distinct (the "relational" class) and windows, sketches, as-of and
range joins and LSH top-k (the "analytic" class). The warm-up runs two
queries of each class from outside the mix, so each timed op is its
query's first run in a warmed JVM. Every result is checked against the query's
DuckDB oracle, computed once per seed before the engine starts.
"""

from __future__ import annotations

import os

RELATIONAL = [
    "flagship_repo_languages",
    "q1_pricing_summary",
    "q3_top_orders",
    "q18_large_orders",
    "olap_rollup_pricing",
]
ANALYTIC = [
    "events_sessionize",
    "win_ntile_quartiles",
    "stats_sketch_distinct_merge",
    "events_asof_attribution",
    "sim_lsh_ann",
]
QUERIES = RELATIONAL + ANALYTIC
# two per class, covering the mix's operator families (scan-aggregate,
# explode, window, embedding arrays)
WARM_UP = [
    ("relational", "q6_forecast_revenue"),
    ("relational", "flagship_sql_lateral"),
    ("analytic", "win_rank_orders"),
    ("analytic", "sim_topk_bruteforce"),
]
CHECKED = QUERIES + [q for _, q in WARM_UP]


def oracle_sql() -> str:
    """The oracle SQL of the mix: part of the input cache key, since the
    oracles are computed at generation time from engine code."""
    from dbt_ci_demo_spark.queries import registry_oracles

    oracles = registry_oracles()
    return "\n".join(oracles[q] for q in CHECKED)


def prepare(root: str, seed: int) -> dict:
    """Generate the tables and compute every oracle (untimed, no engine)."""
    import duckdb

    from gen import gen_warehouse

    meta = gen_warehouse(root, seed, QUERIES)
    from dbt_ci_demo_spark.queries import registry_oracles

    oracles = registry_oracles()
    con = duckdb.connect()
    try:
        for name in meta["sizes"]:
            path = os.path.join(root, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for q in CHECKED:
            con.execute(oracles[q]).fetchdf().to_pickle(os.path.join(root, f"oracle_{q}.pkl"))
    finally:
        con.close()
    return meta


class Workload:
    op_types = ("relational", "analytic")
    round_s = 10.0  # nominal seconds per round: --seconds 10 times one round

    def __init__(self, spark, root: str, meta: dict, tracer, run_dir: str):
        from dbt_ci_demo_spark.queries import registry_queries

        self.spark, self.root, self.tracer = spark, root, tracer
        self.fns = registry_queries()
        self.order = meta["query_order"]
        import pandas as pd

        self.oracles = {q: pd.read_pickle(os.path.join(root, f"oracle_{q}.pkl")) for q in CHECKED}

    def warm_up_ops(self) -> list:
        return [(kind, q, lambda q=q: self._run(q)) for kind, q in WARM_UP]

    def round_ops(self, r: int) -> list:
        return [
            ("relational" if q in RELATIONAL else "analytic", q, lambda q=q: self._run(q))
            for q in self.order
        ]

    def _run(self, q: str):
        if self.tracer is None:
            return self.fns[q](self.spark, self.root).toPandas()
        # lsh_ann_topk only builds the plan; the top-k query's execution
        # is the similarity layer's cost, so it gets a span of its own
        name = "similarity.topk_exec" if q == "sim_lsh_ann" else "queries.run"
        return self.tracer.call(name, self._traced_query, q)

    def _traced_query(self, q: str):
        import time

        span = self.tracer.current()
        t0 = time.perf_counter()
        df = self.fns[q](self.spark, self.root)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        span.extra.update(build_s=t1 - t0, plan_s=t2 - t1)
        return df.toPandas()

    def check(self, q: str, result) -> str | None:
        from dbt_ci_demo_spark.oracle_check import compare_frames

        r = compare_frames(q, result, self.oracles[q])
        return None if r.ok else f"{q}: {r.detail} {r.mismatches[:2]}"

    def workload_metrics(self) -> dict:
        return {}
