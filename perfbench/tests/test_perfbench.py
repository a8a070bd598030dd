"""Benchmark self-tests; none starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, workloads  # noqa: E402
from tools.parity import duck_connection  # noqa: E402

WORKLOAD_NAMES = sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    a = inputs.ensure_inputs(str(tmp_path / "a"), workload, 7, "timed")
    b = inputs.ensure_inputs(str(tmp_path / "b"), workload, 7, "timed")
    c = inputs.ensure_inputs(str(tmp_path / "c"), workload, 8, "timed")
    assert sorted(os.listdir(a)) == sorted(os.listdir(b))
    for name in os.listdir(a):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name
    assert inputs.digest(a) != inputs.digest(c)


def test_warm_inputs_differ_from_timed_inputs(tmp_path):
    for workload in WORKLOAD_NAMES:
        timed = inputs.ensure_inputs(str(tmp_path), workload, 3, "timed")
        warm = inputs.ensure_inputs(str(tmp_path), workload, 3, "warm")
        assert inputs.digest(timed) != inputs.digest(warm)


def test_size_change_regenerates_inputs(tmp_path, monkeypatch):
    old = inputs.ensure_inputs(str(tmp_path), "ww_pipeline", 3, "warm")
    monkeypatch.setitem(inputs.WW_ROWS, "warm", (300,))
    new = inputs.ensure_inputs(str(tmp_path), "ww_pipeline", 3, "warm")
    assert new != old
    assert inputs.digest(new) != inputs.digest(old)


class _Rows:
    """Stands in for a DataFrame: ``toPandas`` returns fixed rows."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _fake_queries(input_dir: str, names: list[str], wrong: str | None) -> dict:
    """Each query answers with its own oracle's rows; ``wrong`` answers with
    one value changed."""
    con = duck_connection(input_dir)
    fakes = {}
    for name in names:
        pdf = con.execute(workloads.ORACLES[name]).fetchdf()
        if name == wrong:
            pdf.loc[0, "doc_id"] += 1
        fakes[name] = lambda spark, sf_dir, pdf=pdf: _Rows(pdf.copy())
    return fakes


@pytest.mark.parametrize("wrong", [None, "dedup_exact_text"])  # its rows: (doc_id, text)
def test_wrong_result_counts_as_failed_operation(tmp_path, monkeypatch, wrong):
    names = ["dedup_exact_text", "embedding_quantize_int8"]
    input_dir = inputs.ensure_inputs(str(tmp_path), "catalog_corpus", 1, "warm")
    monkeypatch.setattr(workloads, "CORPUS_QUERIES", names)
    monkeypatch.setattr(workloads, "QUERIES", _fake_queries(input_dir, names, wrong))
    problems = workloads.corpus_check(None, input_dir, "", [])
    passes = [{"ops": dict.fromkeys(names, 0.1), "errors": {}}] * 3
    attempted, failed = run.count_failures(passes, problems)
    assert attempted == 6
    assert failed == (3 if wrong else 0)
    assert bool(problems[names[0]]) == bool(wrong)


def _ww_oracles(input_dir: str) -> dict:
    con = duck_connection(input_dir)
    return {name: con.execute(sql).fetchdf() for name, sql in workloads.ww_oracle_sqls(input_dir).items()}


def _good_ww_pass(oracles: dict) -> dict:
    """A pass whose outputs are exactly what the oracles expect."""
    from pyspark.sql import Row

    out = {name: [Row(**r) for r in oracles[name].to_dict("records")] for name in workloads.EP2_ORACLES}
    ep1 = oracles["engineer_features"]
    out["model_ready"] = len(ep1.dropna(subset=workloads.MODEL_FEATURES + [workloads.LABEL_COLUMN]))
    out["run_reference_scenarios"] = [
        type("R", (), {"model": m, "accuracy": 0.7, "roc_auc": 0.7, "average_precision": 0.6})()
        for m in sorted(workloads.EP3_MODELS)
    ]
    return {"ops": dict.fromkeys(workloads.OP_NAMES["ww_pipeline"], 1.0), "errors": {}, "outputs": out}


@pytest.mark.parametrize("wrong", [None, "ep2_monthly_rate", "model_ready", "sink_csv"])
def test_wrong_pipeline_output_counts_as_failed_operation(tmp_path, wrong):
    input_dir = inputs.ensure_inputs(str(tmp_path / "in"), "ww_pipeline", 1, "warm")
    oracles = _ww_oracles(input_dir)
    assert all(len(f) for f in oracles.values())
    good, bad = _good_ww_pass(oracles), _good_ww_pass(oracles)
    ep1 = oracles["engineer_features"]
    if wrong == "ep2_monthly_rate":
        row = bad["outputs"][wrong][0].asDict()
        bad["outputs"][wrong][0] = type(bad["outputs"][wrong][0])(**{**row, "total": row["total"] + 1})
    elif wrong == "model_ready":
        bad["outputs"][wrong] -= 1
    elif wrong == "sink_csv":
        ep1 = ep1.iloc[1:]
    sink = tmp_path / "out" / "processed_csv"
    sink.mkdir(parents=True)
    ep1.to_csv(sink / "part-00000-x.csv", index=False)
    problems = workloads.ww_output_problems(oracles, [good, bad], str(tmp_path / "out"))
    assert sorted(n for n, p in problems.items() if p) == ([wrong] if wrong else [])
    attempted, failed = run.count_failures([good, bad], problems)
    assert attempted == 2 * len(workloads.OP_NAMES["ww_pipeline"])
    # A bad output fails that operation in every pass.
    assert failed == (2 if wrong else 0)


def test_raised_operation_and_bad_ep3_row_count_as_failed():
    good = [
        type("R", (), {"model": m, "accuracy": 0.7, "roc_auc": 0.7, "average_precision": 0.6})()
        for m in sorted(workloads.EP3_MODELS)
    ]
    assert workloads.ep3_problems(good) == []
    bad = list(good)
    bad[0] = type("R", (), {"model": bad[0].model, "accuracy": 1.5, "roc_auc": 0.7,
                            "average_precision": float("nan")})()
    assert len(workloads.ep3_problems(bad)) == 2
    passes = [{"ops": {"a": 1.0, "b": 1.0}, "errors": {"a": "RuntimeError: x"}}]
    assert run.count_failures(passes, {"b": ["EP3 models"]}) == (2, 2)


def _benchmark_metrics(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _fake_traced(op_names: list[str]) -> dict:
    job = {"start": 1.0, "end": 1.5, "stages": 2, "tasks": 8, "task_s": 1.0, "cpu_s": 0.5,
           "shuffle_write_bytes": 10, "shuffle_read_bytes": 10, "spill_bytes": 0}
    layers = {
        name: {"layer": layer, "py4j": 3, "plan_s": 0.01, "build_s_raw": 0.1,
               "build_jobs": [], "exec_jobs": [job], "window": (0.9, 2.0),
               "python_bytes": 5.0, "files_read_bytes": 100.0, "cache_bytes": 7,
               "output_bytes": 11}
        for name, layer in zip(op_names, ["sources", "features", "ml", "sinks", "plans"] * 9)
    }
    return {"layers": layers, "ops": dict.fromkeys(op_names, 1.1), "wall_s": 9.0,
            "blocks_left": 0}


def test_printed_metrics_are_declared_with_their_units():
    setup = [{"get_spark_s": 1.0, "warmup_s": 2.0, "total_s": 3.0}] * 3
    passes = [{"wall_s": 5.0, "ops": {"a": 1.0, "b": 2.0}}]
    e2e = run.end_to_end_metrics(setup, passes, 0)
    assert {k: v["unit"] for k, v in e2e.items()} == _benchmark_metrics("end_to_end")
    declared = _benchmark_metrics("per_layer")
    for workload in WORKLOAD_NAMES:
        traced = _fake_traced(workloads.OP_NAMES[workload])
        layer = run.layer_metrics(traced, 8.0, setup, workloads.OP_NAMES_ALL)
        assert {k: v["unit"] for k, v in layer.items()} == declared


def test_wall_s_sums_per_operation_medians_over_steady_passes():
    cold = {"wall_s": 20.0, "ops": {"a": 15.0, "b": 5.0}}
    steady = [
        {"wall_s": 3.0, "ops": {"a": 1.0, "b": 2.0}},
        {"wall_s": 7.1, "ops": {"a": 5.0, "b": 2.1}},  # one stalled operation
        {"wall_s": 3.4, "ops": {"a": 1.2, "b": 2.2}},
    ]
    e2e = run.end_to_end_metrics([{"total_s": 1.0}], [cold, *steady], 1)
    assert e2e["wall_s"]["value"] == pytest.approx(1.2 + 2.1)
    assert e2e["first_pass_s"]["value"] == 20.0


def test_span_self_times_add_up_to_the_root():
    from perfbench.trace import self_times

    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 4.0, "end": 6.0},
    ]
    selfs = self_times(spans)
    assert selfs == {0: 5.0, 1: 2.0, 2: 1.0, 3: 2.0}
    assert sum(selfs.values()) == 10.0


def test_python_bytes_metric_parses_as_rendered():
    from perfbench.trace import parse_size_metric

    assert parse_size_metric("total (min, med, max (stageId: taskId))\n1.5 MiB (0.0 B, ...)") == 1.5 * 2**20
    assert parse_size_metric("12.0 KiB") == 12 * 1024
    assert parse_size_metric("") == 0.0
