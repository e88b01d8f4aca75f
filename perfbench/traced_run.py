"""The traced run: install the spans, then turn them into per-layer numbers.

Every per-layer value is a per-op average over the timed region: the sum
of a field over the spans of one name that started inside the timed loop,
divided by the number of timed ops.
"""

from __future__ import annotations

from layers import DERIVED, SPAN_FIELDS, targets, unit_of
from spans import Tracer


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def install(spark) -> Tracer:
    tracer = Tracer(spark)
    tracer.install(targets())
    # a pin is at its largest just before it is released; the session's
    # concrete DataFrame class, which overrides the pyspark.sql base
    tracer.sample_before(type(spark.range(0)), "unpersist", "dedup", lambda: _storage_bytes(spark))
    return tracer


def per_layer(tracer: Tracer, spark, ops: list[dict], t_loop: float, gc_s: float,
              workload, trace_e2e: dict[str, float]) -> dict:
    tracer.collect()
    n_ops = max(len(ops), 1)
    timed = [s for s in tracer.spans.values() if s.t0 >= t_loop]
    fields = {s.sid: tracer.fields(s) for s in timed}
    out: dict[str, dict] = {}
    for name, wanted in SPAN_FIELDS.items():
        spans = [fields[s.sid] for s in timed if s.name == name]
        for f in wanted:
            out[f"{name}.{f}"] = {"value": sum(sp.get(f, 0.0) for sp in spans) / n_ops, "unit": unit_of(f)}

    def spans_of(name):
        return [fields[s.sid] for s in timed if s.name == name]

    queries = spans_of("queries.run") + spans_of("similarity.topk_exec")
    cores = spark.sparkContext.defaultParallelism
    q_jobs = sum(q["jobs_s"] for q in queries)
    tests = spans_of("quality.test")
    writes = spans_of("materialize.write")
    derived = {
        "exec.core_util": sum(q["task_s"] for q in queries) / (q_jobs * cores) if q_jobs else 0.0,
        "streaming.rows": workload.workload_metrics().get("streaming_rows_per_refresh", 0.0),
        # jobs issued by Runner.build itself, outside every child span:
        # the post-wave row counts of the build bookkeeping
        "plans.extra_jobs": sum(b["own_jobs"] for b in spans_of("plans.build")) / n_ops,
        "materialize.output_bytes": sum(w["output_bytes"] for w in writes) / n_ops,
        "materialize.files_written": sum(w["files_written"] for w in writes) / n_ops,
        "materialize.write_amp": workload.workload_metrics().get("write_amp", 0.0),
        "quality.jobs_per_test": sum(t["n_jobs"] for t in tests) / len(tests) if tests else 0.0,
        "dedup.pinned_bytes": max(
            (fields[s.sid].get("sampled", 0) for s in timed if s.name.startswith("dedup.")), default=0),
        "session.gc_s": gc_s / n_ops,
    }
    derived.update(trace_e2e)
    for name, value in derived.items():
        out[name] = {"value": float(value), "unit": DERIVED[name][0]}
    return out
