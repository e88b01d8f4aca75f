"""Seeded benchmark of the dbt_ci_demo_spark engine.

    python3 perfbench/run.py --workload warehouse_queries --seed 1 --seconds 12 --trace 0

Run from the repository root. The process generates the workload's inputs
from the seed (cached under ``.perfbench_work/``), then starts one worker
process with a fresh JVM on ``local[<cores>]`` that sets up the engine,
warms every op type, and runs whole rounds of ops in a closed loop (one
client, next op when the previous one is done); ``--seconds`` sets the
number of rounds through the workload's nominal round length. Every op's
output is checked. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CHILD_TIMEOUT_S = 165
WORKLOADS = {
    "warehouse_queries": "warehouse",
    "dbt_cycle": "dbt_cycle",
}


def _module(workload: str):
    import importlib

    return importlib.import_module(WORKLOADS[workload])


def geomean_s(ops: list[dict], kind: str) -> float:
    """The median over rounds of the geometric mean of one round's op
    times of ``kind``. The median of single ops falls between two
    different queries, which swap places under small noise; a geometric
    mean weighs every op's relative change the same, so one long query
    does not carry the class."""
    rounds = sorted({o["round"] for o in ops})
    return statistics.median(
        statistics.geometric_mean(o["dt"] for o in ops if o["round"] == r and o["kind"] == kind)
        for r in rounds
    )


# -- parent ---------------------------------------------------------------


def _prepare(workload: str, seed: int) -> tuple[str, dict]:
    """Seeded inputs, cached on (workload, seed, generator hash)."""
    from gen import generator_hash

    mod = _module(workload)
    oracle_sql = getattr(mod, "oracle_sql", str)()
    key = f"{workload}-{seed}-{generator_hash(mod.__file__, text=oracle_sql)}"
    root = os.path.join(WORK, "inputs", key)
    meta_path = os.path.join(root, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return root, json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    meta = mod.prepare(root, seed)
    # written last: its presence marks a complete input set
    with open(meta_path, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return root, meta


def _summary(workload: str, ops: list[dict], child: dict) -> dict:
    kinds = _module(workload).Workload.op_types
    return {
        "setup_s": {"value": child["setup_s"], "unit": "s"},
        "primary_geomean_s": {"value": geomean_s(ops, kinds[0]), "unit": "s"},
        "secondary_geomean_s": {"value": geomean_s(ops, kinds[1]), "unit": "s"},
        "ops_per_s": {"value": len(ops) / sum(o["dt"] for o in ops), "unit": "1/s"},
    }


def parent(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "dbt_ci_demo_spark")):
        print("perfbench: the engine package dbt_ci_demo_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    t_begin = time.time()
    inputs, meta = _prepare(args.workload, args.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    out_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONPATH=os.pathsep.join([HERE, ROOT]),
    )
    spec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "inputs": inputs, "meta": meta,
        "run_dir": run_dir, "out": out_path, "t_spawn": time.time(),
    }
    log_path = os.path.join(run_dir, "worker.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--child", json.dumps(spec)],
                stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir,
                start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=max(10.0, CHILD_TIMEOUT_S - (time.time() - t_begin)))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                # the worker's JVM is in the same session: take both down
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
        if rc != 0 or not os.path.exists(out_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            print(f"perfbench: worker failed (rc={rc})", file=sys.stderr)
            return 1
        with open(out_path) as f:
            child = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ops = child["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + len(child["setup_failures"])
    for o in ops:
        if not o["ok"]:
            print(f"FAILED {o['kind']} {o['name']}: {o['error']}", file=sys.stderr)
    for err in child["setup_failures"]:
        print(f"FAILED warm-up: {err}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "n_ops": len(ops),
        "op_counts": {k: sum(1 for o in ops if o["kind"] == k) for k in {o["kind"] for o in ops}},
        "input_sizes": meta["sizes"], "extra": child.get("extra", {}),
        "peak_rss_mb": child["peak_rss_mb"],
        "op_s": [[o["round"], o["kind"], round(o["dt"], 3)] for o in ops],
    }, sort_keys=True))
    if args.trace:
        metrics = child["per_layer"]
    else:
        metrics = _summary(args.workload, ops, child)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops) + len(child["setup_failures"]),
        "failed": failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


# -- worker (fresh process, fresh JVM) -------------------------------------


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def child(spec: dict) -> int:
    import traceback

    from dbt_ci_demo_spark.session import get_spark

    import traced_run

    spark = get_spark(
        f"perfbench-{spec['workload']}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(spec["run_dir"], "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            # the status store keeps every job of a run (read by the traced run)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    tracer = traced_run.install(spark) if spec["trace"] else None
    mod = _module(spec["workload"])
    wl = mod.Workload(spark, spec["inputs"], spec["meta"], tracer, spec["run_dir"])

    def run_op(rnd, kind, name, fn) -> dict:
        t0 = time.perf_counter()
        try:
            result = fn()
            dt = time.perf_counter() - t0
            error = wl.check(name, result)
        except Exception as e:  # noqa: BLE001 — an op that raises is a failed op
            dt = time.perf_counter() - t0
            error = f"{type(e).__name__}: {e}\n{traceback.format_exc()}"
        return {"round": rnd, "kind": kind, "name": name, "dt": dt, "ok": error is None, "error": error}

    # warm-up, untimed: the workload's warm_up_ops say what it runs and why
    warm = [run_op(-1, *op) for op in wl.warm_up_ops()]
    setup_failures = [f"{o['name']}: {o['error']}" for o in warm if not o["ok"]]
    setup_s = time.time() - spec["t_spawn"]
    gc0 = _gc_s(spark)
    t_loop = time.perf_counter()
    # closed loop over whole rounds, so every run times the same op mix.
    # The round count follows from --seconds and the workload's nominal
    # round length, not from the clock: a slower box must not time fewer
    # (and colder) rounds than a faster one.
    ops: list[dict] = []
    for rnd in range(max(1, math.ceil(spec["seconds"] / wl.round_s))):
        ops += [run_op(rnd, *op) for op in wl.round_ops(rnd)]
    gc_s = _gc_s(spark) - gc0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    out = {
        "setup_s": setup_s,
        "ops": ops,
        "setup_failures": setup_failures,
        "peak_rss_mb": _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self"),
        "extra": wl.workload_metrics(),
    }
    if tracer is not None:
        kinds = mod.Workload.op_types
        out["per_layer"] = traced_run.per_layer(
            tracer, spark, ops, t_loop, gc_s, wl,
            {"trace.primary_geomean_s": geomean_s(ops, kinds[0]),
             "trace.secondary_geomean_s": geomean_s(ops, kinds[1])},
        )
    spark.stop()
    with open(spec["out"], "w") as f:
        json.dump(out, f)
    return 0


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--child":
        return child(json.loads(sys.argv[2]))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    return parent(args)


if __name__ == "__main__":
    raise SystemExit(main())
