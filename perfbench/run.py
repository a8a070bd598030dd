"""Seeded end-to-end benchmark of the engine on ``local[4]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload ww_pipeline --seed 1 --seconds 18 --trace 0

One run:

1. generates the workload's inputs from ``--seed`` (once per seed) under
   ``.perfbench/`` in the repository root;
2. sets up ``SETUP_REPS`` times — a new JVM, ``session.get_spark`` and the
   workload's warm-up on a small seeded input — stopping the JVM in
   between, so each set-up is what a fresh process pays;
3. runs timed passes over the workload, one operation at a time (a closed
   loop with one client): the workload's cold passes, then steady passes
   until they add up to ``--seconds`` (at least one); with ``--trace 1``
   every pass is traced;
4. checks every operation's output once, between the first pass and the
   next (untimed);
5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``), and writes the full record, spans included, to
   ``.perfbench/records/``.

Spark writes its scratch files under ``.perfbench/`` too.  See
``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
#: Each set-up starts a JVM (≈7 s) and runs the warm-up (≈2.5–5 s); a third
#: one does not fit the ≈70 s a run may take next to a 40 s pass.
SETUP_REPS = 2

#: End-to-end metrics, measured with tracing off.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "first_pass_s": "s",
}

#: Per-layer metrics of the traced pass (``op.<name>.wall_s`` come on top).
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "py4j.round_trips": "count",
    "catalyst.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "ml.fit_s": "s",
    "ml.jobs": "count",
    "features.engineer_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sinks.write_s": "s",
    "sinks.output_bytes": "bytes",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.slot_busy_ratio": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "python.bytes_sent": "bytes",
    "cache.peak_bytes": "bytes",
    "cache.blocks_left": "count",
    "trace.overhead_s": "s",
}


def _isolate_scratch() -> None:
    """Point Spark's and Python's scratch space into the work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # collect() renders timestamps in the process time zone; pin it to the
    # session's (UTC) so collected rows compare with the oracles anywhere.
    os.environ["TZ"] = "UTC"
    time.tzset()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def run_pass(spark, workload, input_dir: str, out_dir: str) -> dict:
    """One untraced pass; per-op wall time covers build + execute."""
    state: dict = {}
    rec = {"ops": {}, "outputs": {}, "errors": {}}
    t0 = time.perf_counter()
    for op in workload.ops(spark, input_dir, out_dir, state):
        start = time.perf_counter()
        handle = None
        try:
            handle = op.build()
            rec["outputs"][op.name] = op.execute(handle)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, the run goes on
            rec["errors"][op.name] = f"{type(e).__name__}: {e}"
        rec["ops"][op.name] = time.perf_counter() - start
        # Drop the handle so scoped-persist finalizers free its caches before
        # the next operation (as bench.py does).
        handle = None
        gc.collect()
    state.clear()
    gc.collect()
    rec["wall_s"] = time.perf_counter() - t0
    return rec


def run_traced_pass(spark, workload, input_dir: str, out_dir: str, tracer) -> dict:
    """One pass with spans, job groups and status-store harvesting."""
    from pyspark.sql import DataFrame

    from perfbench.trace import FILES_READ, PYTHON_SENT, Py4jCounter

    state: dict = {}
    rec = {"ops": {}, "outputs": {}, "errors": {}, "layers": {}}
    bus = spark.sparkContext._jsc.sc().listenerBus()
    with tracer.span("pass", traced=True) as pspan:
        for op in workload.ops(spark, input_dir, out_dir, state):
            first_exec = tracer.sql_execution_count()
            group = f"{tracer.run_id}:{pspan['id']}:{op.name}"
            handle = None
            lay = {"layer": op.layer, "py4j": 0, "plan_s": 0.0, "build_s_raw": 0.0}
            with tracer.span("operation", op=op.name, layer=op.layer) as ospan:
                e0 = time.time()
                try:
                    tracer.set_group(group + ":build")
                    with tracer.span("build") as bspan, Py4jCounter(spark) as calls:
                        handle = op.build()
                    lay["py4j"] = calls.count
                    lay["build_s_raw"] = bspan["end"] - bspan["start"]
                    if isinstance(handle, DataFrame):
                        with tracer.span("plan") as cspan:
                            handle._jdf.queryExecution().executedPlan()
                        lay["plan_s"] = cspan["end"] - cspan["start"]
                    tracer.set_group(group + ":execute")
                    with tracer.span("execute"):
                        rec["outputs"][op.name] = op.execute(handle)
                except Exception as e:  # noqa: BLE001 — counted, the run goes on
                    rec["errors"][op.name] = f"{type(e).__name__}: {e}"
                finally:
                    tracer.clear_group()
                e1 = time.time()
            rec["ops"][op.name] = ospan["end"] - ospan["start"]
            with tracer.span("harvest", op=op.name):
                bus.waitUntilEmpty()
                lay["build_jobs"] = tracer.jobs(group + ":build")
                lay["exec_jobs"] = tracer.jobs(group + ":execute")
                lay["window"] = (e0, e1)
                sizes = tracer.sql_size_metrics(first_exec, (PYTHON_SENT, FILES_READ))
                lay["python_bytes"] = sizes[PYTHON_SENT]
                lay["files_read_bytes"] = sizes[FILES_READ]
                lay["cache_bytes"] = tracer.storage()[0]
                if op.layer == "sinks":
                    lay["output_bytes"] = _dir_bytes(out_dir)
                handle = None
                gc.collect()
            rec["layers"][op.name] = lay
        with tracer.span("harvest", op=None):
            state.clear()
            gc.collect()
            rec["blocks_left"] = tracer.storage()[1]
    rec["wall_s"] = pspan["end"] - pspan["start"]
    return rec


def _clipped(jobs: list[dict], window: tuple[float, float]) -> list[tuple[float, float]]:
    lo, hi = window
    return [
        (max(j["start"], lo), min(j["end"], hi))
        for j in jobs
        if j["start"] is not None and j["end"] is not None and j["end"] > lo and j["start"] < hi
    ]


def layer_metrics(traced: dict, overhead_s: float, setup: list[dict], op_names: list[str]) -> dict:
    """Per-layer metrics of one traced pass."""
    from perfbench.trace import union_length

    m = {k: 0.0 for k in PER_LAYER}
    by_layer = {"ml": "ml.fit_s", "sources": "sources.scan_s", "sinks": "sinks.write_s"}
    for name, lay in traced["layers"].items():
        wall = traced["ops"][name]
        jobs = lay["build_jobs"] + lay["exec_jobs"]
        m["plans.build_s"] += max(
            0.0, lay["build_s_raw"] - union_length(_clipped(lay["build_jobs"], lay["window"]))
        )
        m["plans.build_jobs"] += len(lay["build_jobs"])
        m["py4j.round_trips"] += lay["py4j"]
        m["catalyst.plan_s"] += lay["plan_s"]
        m["spark.jobs"] += len(jobs)
        m["spark.driver_gap_s"] += max(
            0.0, (lay["window"][1] - lay["window"][0]) - union_length(_clipped(jobs, lay["window"]))
        )
        for j in jobs:
            m["spark.stages"] += j["stages"]
            m["spark.tasks"] += j["tasks"]
            m["exec.task_s"] += j["task_s"]
            m["exec.cpu_s"] += j["cpu_s"]
            m["exec.shuffle_write_bytes"] += j["shuffle_write_bytes"]
            m["exec.shuffle_read_bytes"] += j["shuffle_read_bytes"]
            m["exec.spill_bytes"] += j["spill_bytes"]
        m["sources.input_bytes"] += lay["files_read_bytes"]
        m["python.bytes_sent"] += lay["python_bytes"]
        m["cache.peak_bytes"] = max(m["cache.peak_bytes"], lay["cache_bytes"])
        m["sinks.output_bytes"] += lay.get("output_bytes", 0)
        if lay["layer"] in by_layer:
            m[by_layer[lay["layer"]]] += wall
        if lay["layer"] == "ml":
            m["ml.jobs"] += len(jobs)
        if name == "engineer_features":
            m["features.engineer_s"] += wall
    m["exec.slot_busy_ratio"] = m["exec.task_s"] / (traced["wall_s"] * CORES)
    m["cache.blocks_left"] = traced["blocks_left"]
    m["session.get_spark_s"] = statistics.median(s["get_spark_s"] for s in setup)
    m["trace.overhead_s"] = overhead_s
    out = {
        k: {"value": int(v) if PER_LAYER[k] in ("count", "bytes") else v, "unit": PER_LAYER[k]}
        for k, v in m.items()
    }
    for name in op_names:
        out[f"op.{name}.wall_s"] = {"value": traced["ops"].get(name, 0.0), "unit": "s"}
    return out


def steady_wall_s(passes: list[dict]) -> float:
    """The sum over operations of each operation's median time across the
    steady passes (bench.py's sum of medians): a stall that hits one
    operation in one pass moves it less than it moves that pass's wall."""
    return sum(statistics.median(p["ops"][name] for p in passes) for name in passes[0]["ops"])


def end_to_end_metrics(setup: list[dict], passes: list[dict], cold_passes: int) -> dict:
    m = {
        "setup_s": statistics.median(s["total_s"] for s in setup),
        "wall_s": steady_wall_s(passes[cold_passes:]),
        "first_pass_s": passes[0]["wall_s"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}


def count_failures(passes: list[dict], problems: dict[str, list[str]]) -> tuple[int, int]:
    """(attempted, failed) over the timed passes.  An execution fails if it
    raised or if its operation's output check found a problem."""
    attempted = failed = 0
    for p in passes:
        for name in p["ops"]:
            attempted += 1
            failed += bool(name in p["errors"] or problems.get(name))
    return attempted, failed


def jvm_peak_rss_mb(spark) -> float | None:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        return None
    return None


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM.  The
    next ``get_spark`` starts a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # Import the engine before anything runs: without it the run fails here.
    from perfbench import inputs, workloads
    from perfbench.trace import Tracer, self_times

    from cdc_wastewater_analysis_ml_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]
    _isolate_scratch()
    input_dir = inputs.ensure_inputs(WORK, wl.name, args.seed, "timed")
    warm_dir = inputs.ensure_inputs(WORK, wl.name, args.seed, "warm")
    out_dir = os.path.join(WORK, "out", wl.name)

    setup: list[dict] = []
    spark = None
    for _ in range(SETUP_REPS):
        if spark is not None:
            shutdown(spark)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{CORES}]")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        wl.warmup(spark, warm_dir)
        t2 = time.perf_counter()
        setup.append({"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0})

    record: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
    tracer = Tracer(spark, f"{wl.name}-seed{args.seed}") if args.trace else None
    passes: list[dict] = []

    def one_pass() -> None:
        if tracer:
            passes.append(run_traced_pass(spark, wl, input_dir, out_dir, tracer))
        else:
            passes.append(run_pass(spark, wl, input_dir, out_dir))
        print(f"perfbench: pass {len(passes)} {passes[-1]['wall_s']:.3f}s", file=sys.stderr)

    with tracer.span("workload", workload=wl.name) if tracer else contextlib.nullcontext():
        one_pass()
        # The check runs the workload's operations once more on the same
        # inputs, so made here it also warms the JIT for the steady passes.
        problems = wl.check(spark, input_dir, out_dir, passes)
        while (
            len(passes) <= wl.cold_passes
            or sum(p["wall_s"] for p in passes[wl.cold_passes:]) < args.seconds
        ):
            one_pass()
    attempted, failed = count_failures(passes, problems)
    record["op_p50_s"] = statistics.median(
        t for p in passes[wl.cold_passes:] for t in p["ops"].values()
    )

    if tracer:
        # Per-layer numbers describe the last pass; its span self-times add
        # up to its wall time, and the harvest and plan spans are the time
        # tracing added to it.
        last = max(s["id"] for s in tracer.spans if s["name"] == "pass")
        selfs = self_times(tracer.spans)
        inside = [sid for sid in selfs if _descends(tracer.spans, sid, last)]
        overhead = sum(selfs[sid] for sid in inside if tracer.spans[sid]["name"] in ("harvest", "plan"))
        record.update(
            spans=tracer.spans,
            span_self_sum_s=sum(selfs[sid] for sid in inside),
            traced_pass_wall_s=passes[-1]["wall_s"],
            traced_layers=passes[-1]["layers"],
        )
        metrics = layer_metrics(passes[-1], overhead, setup, workloads.OP_NAMES_ALL)
    else:
        metrics = end_to_end_metrics(setup, passes, wl.cold_passes)

    record.update(
        setup=setup,
        passes=[{k: p[k] for k in ("wall_s", "ops", "errors")} for p in passes],
        problems=problems,
        metrics=metrics,
        inputs={"timed": inputs.digest(input_dir), "warm": inputs.digest(warm_dir)},
        jvm={"peak_rss_mb": jvm_peak_rss_mb(spark)},
        cores=CORES,
    )
    shutdown(spark)
    record["run_s"] = time.perf_counter() - started

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def _descends(spans: list[dict], sid: int, ancestor: int) -> bool:
    while sid is not None:
        if sid == ancestor:
            return True
        sid = spans[sid]["parent"]
    return False


if __name__ == "__main__":
    sys.exit(main())
