"""dbt_cycle: the reference's CI loop, one change batch per cycle.

A cycle lands a seeded change batch (untimed: the benchmark rewrites the
source parquet files with pyarrow), then runs four kinds of timed op:

- ``refresh``: the batch's new events are ingested through the streaming
  layer (availableNow + ``run_foreach_batch_merge``), then the prod
  ``Runner.build`` runs the 10-node DAG below with its tests and
  publishes the state manifest.
- ``ci_build``: the batch's edit choice modifies one model; the PR build
  runs ``state:modified+`` with ``defer=True`` and tests, a failing test
  skips its downstream, and the PR namespace is dropped.
- ``curate`` and ``admit`` (``corpus.py``): the document corpus is
  curated into a stored MinHash index, then the cycle's incoming document
  batch is admitted against it.

DAG: seed_priority (seed) · stg_orders, stg_customer (tables) ·
orders_merged (incremental merge, soft deletes) · events_daily
(incremental insert_overwrite by day) · user_activity (incremental merge
of the streamed per-user totals) · customer_snapshot (SCD2, hard deletes
invalidated) · mart_segment_revenue, mart_priority_sales (tables) ·
audit_segment (view).

Checks: the merged orders equal the changes applied in DuckDB; the
snapshot has one current row per live key, none for deleted keys, and no
overlapping validity ranges; daily and per-user aggregates equal DuckDB's
over all landed events; every build step and the selection, deferral and
test-gating statuses of the PR build are as the edit implies; the
corpus checks are in ``corpus.py``.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from corpus import Corpus
from gen import PRIORITIES, SEGMENTS

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "c_updated_at"]
# (model, downstream of it inside the DAG) for the PR edit choice
EDITABLE = {
    "stg_orders": {"mart_priority_sales"},
    "stg_customer": {"mart_segment_revenue", "audit_segment"},
    "mart_segment_revenue": {"audit_segment"},
    "mart_priority_sales": set(),
    "audit_segment": set(),
}
# models whose edit can break their own test
BREAKABLE = {"mart_segment_revenue", "mart_priority_sales"}


def prepare(root: str, seed: int) -> dict:
    from gen import gen_corpus, gen_dbt

    meta = gen_dbt(root, seed)
    corpus_root = os.path.join(root, "corpus")
    os.makedirs(corpus_root)
    meta["corpus"] = gen_corpus(corpus_root, seed)
    meta["sizes"].update(meta["corpus"]["sizes"])
    return meta


# -- models ------------------------------------------------------------------


def _stg_orders(variant):
    def fn(ctx):
        df = ctx.source("orders").select(*ORDER_COLS)
        if variant != "v1":
            df = df.withColumn("o_year", F.year("o_orderdate"))
        return df
    return fn


def _stg_customer(variant):
    def fn(ctx):
        df = ctx.source("customer").select(*CUSTOMER_COLS[:5])
        if variant != "v1":
            df = df.withColumn("c_name_upper", F.upper("c_name"))
        return df
    return fn


def _orders_merged(ctx):
    if ctx.is_incremental():
        chg = ctx.source("orders_changes")
        return chg.select(*ORDER_COLS, (F.col("op") == "D").alias("is_deleted"))
    return ctx.source("orders").select(*ORDER_COLS, F.lit(False).alias("is_deleted"))


def _events_daily(ctx):
    ev = ctx.source("events").withColumn("ds", F.to_date("ts"))
    if ctx.is_incremental():
        last = ctx.this.agg(F.max("ds")).first()[0]
        ev = ev.filter(F.col("ds") >= F.lit(last))
    return ev.groupBy("ds", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    ).select("event_type", "n_events", "total_value", "ds")


def _user_activity(ctx):
    batch = ctx.source("user_batch_totals")
    if not ctx.is_incremental():
        return batch
    prev = ctx.this.select(
        "user_id", F.col("n_events").alias("p_n"), F.col("total_value").alias("p_v")
    )
    return batch.join(prev, "user_id", "left").select(
        "user_id",
        (F.col("n_events") + F.coalesce("p_n", F.lit(0))).alias("n_events"),
        (F.col("total_value") + F.coalesce("p_v", F.lit(0.0))).alias("total_value"),
    )


def _customer_snapshot(ctx):
    return ctx.source("customer").select(*CUSTOMER_COLS)


def _mart_segment(variant):
    def fn(ctx):
        o = ctx.ref("orders_merged").filter(~F.col("is_deleted"))
        c = ctx.ref("stg_customer")
        seg = F.lower("c_mktsegment") if variant == "broken" else F.col("c_mktsegment")
        out = o.join(c, o["o_custkey"] == c["c_custkey"]).groupBy(seg.alias("segment")).agg(
            F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("revenue")
        )
        if variant == "v2":
            out = out.withColumn("avg_order", F.col("revenue") / F.col("n_orders"))
        return out
    return fn


def _mart_priority(variant):
    def fn(ctx):
        o, s = ctx.ref("stg_orders"), ctx.ref("seed_priority")
        prio = F.substring("o_orderpriority", 1, 1) if variant == "broken" else F.col("o_orderpriority")
        out = o.groupBy(prio.alias("priority")).agg(F.count(F.lit(1)).alias("n_orders"))
        out = out.join(s, "priority", "left")
        if variant == "v2":
            out = out.withColumn("share", F.col("n_orders") / F.sum("n_orders").over(Window.partitionBy()))
        return out
    return fn


def _audit_segment(variant):
    def fn(ctx):
        df = ctx.ref("mart_segment_revenue").select("segment", "n_orders")
        return df.filter(F.col("n_orders") > 0) if variant != "v1" else df
    return fn


def _seed_priority(ctx):
    rows = [(p, i + 1) for i, p in enumerate(PRIORITIES)]
    return ctx.spark.createDataFrame(rows, "priority string, prio_rank int").coalesce(1)


def build_models(edit: tuple[str, str] | None = None) -> dict:
    """The DAG; ``edit`` = (model, variant) replaces one model's v1 body."""
    from dbt_ci_demo_spark.plans.model import model

    def v(name):
        return edit[1] if edit and edit[0] == name else "v1"

    reg: dict = {}
    model("seed_priority", materialized="seed", registry=reg)(_seed_priority)
    model("stg_orders", sources=["orders"], registry=reg)(_stg_orders(v("stg_orders")))
    model("stg_customer", sources=["customer"], registry=reg)(_stg_customer(v("stg_customer")))
    model("orders_merged", sources=["orders", "orders_changes"], registry=reg,
          materialized="incremental", unique_key="o_orderkey")(_orders_merged)
    model("events_daily", sources=["events"], registry=reg, materialized="incremental",
          incremental_strategy="insert_overwrite", partition_by="ds")(_events_daily)
    model("user_activity", sources=["user_batch_totals"], registry=reg,
          materialized="incremental", unique_key="user_id")(_user_activity)
    model("customer_snapshot", sources=["customer"], registry=reg, materialized="snapshot",
          unique_key="c_custkey", updated_at="c_updated_at",
          invalidate_hard_deletes=True)(_customer_snapshot)
    model("mart_segment_revenue", refs=["orders_merged", "stg_customer"],
          registry=reg)(_mart_segment(v("mart_segment_revenue")))
    model("mart_priority_sales", refs=["stg_orders", "seed_priority"],
          registry=reg)(_mart_priority(v("mart_priority_sales")))
    model("audit_segment", refs=["mart_segment_revenue"], registry=reg,
          materialized="view")(_audit_segment(v("audit_segment")))
    return reg


def build_tests(parent_of) -> dict:
    """Generic tests per node; ``parent_of(name)`` resolves a test's
    parent relation (prod or deferred)."""
    from dbt_ci_demo_spark.operators.quality import (
        test_accepted_values, test_not_null, test_relationships, test_unique,
    )

    return {
        "orders_merged": [
            ("not_null_orders_merged_o_orderkey", lambda df: test_not_null(df, "o_orderkey")),
            ("unique_orders_merged_o_orderkey", lambda df: test_unique(df, "o_orderkey")),
        ],
        "mart_segment_revenue": [
            ("accepted_values_mart_segment_revenue_segment",
             lambda df: test_accepted_values(df, "segment", SEGMENTS)),
        ],
        "mart_priority_sales": [
            ("relationships_mart_priority_sales_priority",
             lambda df: test_relationships(df, "priority", parent_of("seed_priority"), "priority")),
        ],
    }


# -- the workload ------------------------------------------------------------


def _applied(base: str, changes: list[str], key: str, cols: str) -> str:
    """DuckDB SQL for the base table with the change batches applied in
    order: the latest change per key wins, a 'D' removes the key."""
    if not changes:
        return f"SELECT {cols} FROM read_parquet('{base}')"
    return f"""
        WITH chg AS (
          SELECT *, row_number() OVER (PARTITION BY {key} ORDER BY filename DESC) AS rn
          FROM read_parquet({changes!r}, filename = true)
        ), last AS (SELECT * FROM chg WHERE rn = 1)
        SELECT {cols} FROM read_parquet('{base}')
        WHERE {key} NOT IN (SELECT {key} FROM last)
        UNION ALL SELECT {cols} FROM last WHERE op <> 'D'
    """


def _files_bytes(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[(p, st.st_mtime_ns, st.st_ino)] = st.st_size
    return out


class Workload:
    op_types = ("refresh", "ci_build", "curate", "admit")
    round_s = 20.0  # nominal seconds per round: --seconds 10 times one cycle

    def __init__(self, spark, root: str, meta: dict, tracer, run_dir: str):
        from dbt_ci_demo_spark.plans.runner import EnvConfig
        from dbt_ci_demo_spark.sources.catalog import SourceCatalog

        self.spark, self.root, self.meta = spark, root, meta
        self.src = os.path.join(run_dir, "dbt_src")
        self.wh_root = os.path.join(run_dir, "dbt_wh")
        self.state_path = os.path.join(run_dir, "dbt_state", "manifest.json")
        os.makedirs(os.path.join(self.src, "events.parquet"))
        self.base = base = os.path.join(root, "base")
        shutil.copy(os.path.join(base, "orders.parquet"), self.src)
        shutil.copy(os.path.join(base, "customer.parquet"), self.src)
        shutil.copy(os.path.join(base, "events.parquet"),
                    os.path.join(self.src, "events.parquet", "part-000.parquet"))
        self.prod_env = EnvConfig(env="prod", database_prefix="bench_dbt", threads=4)
        self.sources = SourceCatalog(spark, self.src)
        self.corpus = Corpus(spark, os.path.join(root, "corpus"), meta["corpus"], run_dir)
        self.cycle = 0
        self.landed_bytes = 0
        self.written_bytes = 0
        self.wh_before: dict = {}
        self.ingested_rows = 0
        self.n_refresh = 0

    def _runner(self, env, models):
        from dbt_ci_demo_spark.plans.runner import Runner

        return Runner(self.spark, models, env=env, sources=self.sources,
                      warehouse_location=os.path.join(self.wh_root, env.database()))

    # -- landing (untimed) ----------------------------------------------------

    def _land(self, k: int) -> str:
        """Apply batch k to the source files; return its streaming dir."""
        b = self.meta["batches"][k - 1]
        for name, key, cols in (("orders", "o_orderkey", ORDER_COLS), ("customer", "c_custkey", CUSTOMER_COLS)):
            cur = pq.read_table(os.path.join(self.src, f"{name}.parquet"))
            chg = pq.read_table(os.path.join(b["dir"], f"{name}_changes.parquet"))
            keep = pc.invert(pc.is_in(cur.column(key), chg.column(key)))
            live = chg.filter(pc.not_equal(chg.column("op"), "D")).select(cols)
            pq.write_table(pa.concat_tables([cur.filter(keep), live]), os.path.join(self.src, f"{name}.parquet"))
            shutil.copy(os.path.join(b["dir"], f"{name}_changes.parquet"), self.src)
            self.sources.add(f"{name}_changes", self.spark.read.parquet(
                os.path.join(self.src, f"{name}_changes.parquet")))
        landing = os.path.join(b["dir"], "landing")
        shutil.copy(os.path.join(landing, "events.parquet"),
                    os.path.join(self.src, "events.parquet", f"part-{k:03d}.parquet"))
        self.landed_bytes += b["landed_bytes"]
        return landing

    # -- ops ----------------------------------------------------------------

    def _prs(self, k: int) -> list:
        """The PR builds of cycle k: every editable model once, in an order
        and with variants (a breaking edit or not) drawn from the batch."""
        rng = random.Random(self.meta["batches"][max(k, 1) - 1]["edit"])
        names = sorted(EDITABLE)
        rng.shuffle(names)
        prs = []
        for j, name in enumerate(names):
            broken = name in BREAKABLE and rng.random() < 0.5
            edit = (name, "broken" if broken else "v2")
            prs.append(("ci_build", f"ci_build_{k}_{name}",
                        lambda e=edit, n=10 * k + j: self._ci_build(e, n)))
        return prs

    def warm_up_ops(self) -> list:
        # cycle 0: the initial prod build from the base tables and one PR,
        # always the stg_customer edit (the PR with the most downstream).
        # The corpus ops get no warm-up run: a cold curate costs about 20 s,
        # which the run budget cannot hold, so the timed curate is its
        # first run (after the refresh and PR builds have warmed the JVM)
        return [
            ("refresh", "refresh_0", lambda: self._refresh(self.base, initial=True)),
            *[pr for pr in self._prs(0) if pr[1].endswith("_stg_customer")],
        ]

    def round_ops(self, r: int) -> list:
        self.cycle = k = r + 1
        if k > len(self.meta["batches"]):
            raise RuntimeError("dbt_cycle: out of change batches")
        landing = self._land(k)
        self.wh_before = _files_bytes(self.wh_root)
        return ([("refresh", f"refresh_{k}", lambda: self._refresh(landing))]
                + self._prs(k) + self.corpus.ops(str(k), k - 1))

    def _stream_totals(self, landing: str):
        from dbt_ci_demo_spark.streaming.events_stream import EVENTS_SCHEMA, run_foreach_batch_merge

        stream = (
            self.spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(landing)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        )
        return run_foreach_batch_merge(self.spark, stream, "bench_ingest", ["user_id"],
                                       state_partitions=1)

    def _refresh(self, landing: str, initial: bool = False):
        totals = self._stream_totals(landing)
        self.sources.add("user_batch_totals", totals)
        runner = self._runner(self.prod_env, build_models())
        steps: list = []
        results = runner.build(state_out=self.state_path,
                               tests=build_tests(runner.warehouse.read), build_steps=steps)
        if not initial:
            self.n_refresh += 1
            self.ingested_rows += self.meta["batches"][self.cycle - 1]["rows"]["events"]
        return ("refresh", results, steps, runner)

    def _ci_build(self, edit: tuple[str, str], pr_number: int):
        from dbt_ci_demo_spark.plans.runner import EnvConfig
        from dbt_ci_demo_spark.plans.state import StateManifest

        pr_env = EnvConfig(env="pr", pr_number=pr_number, database_prefix="bench_dbt", threads=4)
        state = StateManifest.load(self.state_path)
        runner = self._runner(pr_env, build_models(edit))

        def parent_of(name):
            return self.spark.table(state.relation(name))

        steps: list = []
        results = runner.build(select="state:modified+", state=state, defer=True,
                               tests=build_tests(parent_of), build_steps=steps)
        built = {n for n in runner.models if runner.warehouse.exists(n)}
        runner.warehouse.drop_database()
        for n in runner.models:
            self.spark.catalog.dropTempView(runner.warehouse._session_view(n))
        return ("ci_build", results, steps, edit, built)

    # -- checks (untimed) -------------------------------------------------------

    def check(self, name: str, result) -> str | None:
        if result[0] == "refresh":
            if name != "refresh_0":
                # the files the refresh wrote, counted outside its timing
                after = _files_bytes(self.wh_root)
                self.written_bytes += sum(v for f, v in after.items() if f not in self.wh_before)
            return self._check_refresh(*result[1:])
        if result[0] == "ci_build":
            return self._check_ci(*result[1:])
        return self.corpus.check(result)

    def _check_refresh(self, results, steps, runner) -> str | None:
        bad = [(s.node, s.status) for s in steps if s.status not in ("success", "pass")]
        errors = [r.error.splitlines()[0] for r in results.values() if r.status == "error"]
        if bad or errors:
            return f"refresh steps not all green: {bad} {errors}"
        con = duckdb.connect()
        try:
            return self._check_state(con, runner)
        finally:
            con.close()

    def _check_state(self, con, runner) -> str | None:
        k = self.cycle
        base = os.path.join(self.root, "base")

        def batch_files(name):
            return [os.path.join(self.meta["batches"][i]["dir"], name) for i in range(k)]

        expected = con.execute(
            _applied(f"{base}/orders.parquet", batch_files("orders_changes.parquet"),
                     "o_orderkey", "o_orderkey, o_custkey, o_totalprice") + " ORDER BY o_orderkey"
        ).fetchdf()
        got = (runner.warehouse.read("orders_merged").filter(~F.col("is_deleted"))
               .select("o_orderkey", "o_custkey", "o_totalprice").toPandas()
               .sort_values("o_orderkey").reset_index(drop=True))
        if not got.equals(expected):
            return f"orders_merged != changes applied in DuckDB ({len(got)} vs {len(expected)} rows)"
        live_c = set(con.execute(
            _applied(f"{base}/customer.parquet", batch_files("customer_changes.parquet"),
                     "c_custkey", "c_custkey")
        ).fetchdf()["c_custkey"].tolist())
        snap = runner.warehouse.read("customer_snapshot").select(
            "c_custkey", "dbt_valid_from", "dbt_valid_to").toPandas()
        current = snap[snap["dbt_valid_to"].isna()]
        if current["c_custkey"].duplicated().any():
            return "customer_snapshot: a key has more than one current row"
        if set(current["c_custkey"].tolist()) != live_c:
            return "customer_snapshot: current rows != live customer keys"
        s = snap.sort_values(["c_custkey", "dbt_valid_from"])
        nxt = s.groupby("c_custkey")["dbt_valid_from"].shift(-1)
        overlap = s["dbt_valid_to"].notna() & nxt.notna() & (s["dbt_valid_to"] > nxt)
        open_not_last = s["dbt_valid_to"].isna() & nxt.notna()
        if overlap.any() or open_not_last.any():
            return "customer_snapshot: overlapping validity ranges"
        ev = [os.path.join(base, "events.parquet")] + [
            os.path.join(self.meta["batches"][i]["dir"], "landing", "events.parquet") for i in range(k)
        ]
        exp_daily = con.execute(f"""
            SELECT CAST(ts AS DATE) AS ds, event_type, count(*) AS n_events, sum(value) AS v
            FROM read_parquet({ev!r}) GROUP BY ALL ORDER BY ds, event_type
        """).fetchdf()
        daily = (runner.warehouse.read("events_daily").toPandas()
                 .sort_values(["ds", "event_type"]).reset_index(drop=True))
        if len(daily) != len(exp_daily) or not (
            (daily["n_events"].to_numpy() == exp_daily["n_events"].to_numpy()).all()
            and abs(daily["total_value"].to_numpy() - exp_daily["v"].to_numpy()).max() < 1e-6
        ):
            return "events_daily != DuckDB daily aggregates"
        exp_users = con.execute(f"""
            SELECT user_id, count(*) AS n, sum(value) AS v FROM read_parquet({ev!r})
            GROUP BY user_id ORDER BY user_id
        """).fetchdf()
        users = runner.warehouse.read("user_activity").toPandas().sort_values("user_id").reset_index(drop=True)
        if len(users) != len(exp_users) or not (
            (users["n_events"].to_numpy() == exp_users["n"].to_numpy()).all()
            and abs(users["total_value"].to_numpy() - exp_users["v"].to_numpy()).max() < 1e-6
        ):
            return "user_activity != DuckDB per-user totals"
        return None

    def _check_ci(self, results, steps, edit, built) -> str | None:
        name, variant = edit
        selected = {name} | EDITABLE[name]
        got_sel = set(results)
        if got_sel != selected:
            return f"ci_build selected {sorted(got_sel)}, expected {sorted(selected)}"
        if built - selected:
            return f"ci_build built deferred parents {sorted(built - selected)}"
        gated = EDITABLE[name] if variant == "broken" else set()
        failing = {t for t, _ in build_tests(None).get(name, [])} if variant == "broken" else set()
        for s in steps:
            if s.resource_type == "test":
                want = "fail" if s.node in failing else "pass"
                if s.status != want:
                    return f"ci_build test {s.node}: {s.status}, expected {want}"
            else:
                want = "skipped" if s.node in gated else "success"
                if s.status != want:
                    return f"ci_build node {s.node}: {s.status}, expected {want}"
        return None

    def workload_metrics(self) -> dict:
        return {
            "write_amp": self.written_bytes / self.landed_bytes if self.landed_bytes else 0.0,
            "streaming_rows_per_refresh": self.ingested_rows / max(self.n_refresh, 1),
            "cycles": self.n_refresh,
        }
