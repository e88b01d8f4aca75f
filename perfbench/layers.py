"""Span targets and the per-layer metric list of the traced run.

Each layer is an engine module; each span is ``<module>.<call>``. The
metric list here is the ``per_layer`` list of BENCHMARK.json, in order.
"""

from __future__ import annotations

STD = ("wall_s", "jobs_s", "gap_s", "n_jobs", "shuffle_bytes")

SPAN_FIELDS: dict[str, tuple[str, ...]] = {
    "sources.read": ("wall_s", "jobs_s", "gap_s", "n_jobs"),
    "queries.run": STD + ("build_s", "plan_s", "spill_bytes"),
    "similarity.topk": ("wall_s",),
    "similarity.topk_exec": STD + ("build_s", "plan_s"),
    "streaming.ingest": STD,
    "plans.select": ("wall_s",),
    "plans.state_io": ("wall_s",),
    "plans.build": ("wall_s", "self_s", "jobs_s", "gap_s", "n_jobs"),
    "materialize.write": STD,
    "materialize.catalog": ("wall_s",),
    "incremental.write": STD,
    "snapshot.write": STD,
    "quality.test": STD,
    "text.filter": ("wall_s",),
    "dedup.self_dedup": STD + ("self_s",),
    "dedup.cc": STD,
    "dedup.index_write": STD,
    "dedup.index_read": ("wall_s", "n_jobs"),
    "dedup.admit": STD,
}

# derived per-layer numbers: name -> (unit, better)
DERIVED: dict[str, tuple[str, str]] = {
    "exec.core_util": ("ratio", "higher"),
    "streaming.rows": ("count", "higher"),
    "plans.extra_jobs": ("count", "lower"),
    "materialize.output_bytes": ("bytes", "lower"),
    "materialize.files_written": ("count", "lower"),
    "materialize.write_amp": ("ratio", "lower"),
    "quality.jobs_per_test": ("count", "lower"),
    "dedup.pinned_bytes": ("bytes", "lower"),
    "session.gc_s": ("s", "lower"),
    "trace.primary_geomean_s": ("s", "lower"),
    "trace.secondary_geomean_s": ("s", "lower"),
}


def unit_of(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes"):
        return "bytes"
    return "count"


def per_layer_metrics() -> list[dict]:
    out = [
        {"name": f"{span}.{f}", "unit": unit_of(f), "better": "lower"}
        for span, fields in SPAN_FIELDS.items()
        for f in fields
    ]
    out += [{"name": n, "unit": u, "better": b} for n, (u, b) in DERIVED.items()]
    return out


def targets() -> list[tuple[str, object, str]]:
    """(span name, owner, attribute) for every traced engine call."""
    from dbt_ci_demo_spark.operators import dedup, similarity, text
    from dbt_ci_demo_spark.operators import quality
    from dbt_ci_demo_spark.operators.materialize import Warehouse
    from dbt_ci_demo_spark.plans.graph import ModelGraph
    from dbt_ci_demo_spark.plans.runner import Runner
    from dbt_ci_demo_spark.plans.state import StateManifest
    from dbt_ci_demo_spark.sources import catalog
    from dbt_ci_demo_spark.streaming import events_stream

    out = [
        ("sources.read", catalog, "load_table"),
        ("similarity.topk", similarity, "lsh_ann_topk"),
        ("streaming.ingest", events_stream, "run_foreach_batch_merge"),
        ("plans.select", ModelGraph, "select"),
        ("plans.state_io", StateManifest, "save"),
        ("plans.state_io", StateManifest, "load"),
        ("plans.build", Runner, "build"),
        ("incremental.write", Warehouse, "write_incremental"),
        ("snapshot.write", Warehouse, "write_snapshot"),
        ("quality.test", quality, "run_test_harness"),
        ("text.filter", text, "gopher_rules"),
        ("dedup.self_dedup", dedup, "minhash_near_duplicates"),
        ("dedup.cc", dedup, "connected_components_star"),
        ("dedup.index_write", dedup, "write_minhash_index"),
        ("dedup.index_read", dedup, "read_minhash_index"),
        ("dedup.admit", dedup, "minhash_near_duplicates_against"),
    ]
    out += [("materialize.write", Warehouse, a) for a in ("write_table", "create_view")]
    out += [
        ("materialize.catalog", Warehouse, a)
        for a in ("exists", "read", "list_tables", "drop", "drop_database", "rename")
    ]
    return out
