"""The benchmark's workloads: the operations of one pass, the warm-up and
the output check.

An operation has a ``build`` step (calls into the engine that return a
handle, usually a lazy DataFrame) and an ``execute`` step (the action that
forces it).  Registry queries are forced with the no-op sink; pipeline
stages run the action the reference CLI
(``cdc_wastewater_analysis_ml_spark/__main__.py``) runs at that point.
``layer`` names the engine module the benchmark calls into.
"""

from __future__ import annotations

import glob
import math
import os
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd
from pyspark.sql import functions as F

from cdc_wastewater_analysis_ml_spark.operators import aggregates as A
from cdc_wastewater_analysis_ml_spark.operators import relational as R
from cdc_wastewater_analysis_ml_spark.plans import ml
from cdc_wastewater_analysis_ml_spark.plans.features import engineer_features, model_ready
from cdc_wastewater_analysis_ml_spark.plans.registry import ORACLES, QUERIES
from cdc_wastewater_analysis_ml_spark.plans.registry_ml import _WW_EP1_SQL, _WW_FIXTURE
from cdc_wastewater_analysis_ml_spark.schema import LABEL_COLUMN, MODEL_FEATURES, WASTEWATER_SCHEMA
from cdc_wastewater_analysis_ml_spark.sources import load_table, scan_csv, sink_csv
from tools.parity import compare, duck_connection

#: Boosting rounds of the EP3 fits — the value the registry's ml_* queries use.
ML_MAX_ITER = 10

#: catalog_corpus: dedup, similarity, text and corpus registry queries.
CORPUS_QUERIES = [
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_cosine_ivf",
    "text_repetition_signals",
    "embedding_quantize_int8",
]


#: Every EP3 result row the reference prints (codes.py:309).
EP3_MODELS = {
    "GradientBoosting (Original)",
    "LinearRegression (Original)",
    "GradientBoosting (PCA)",
    "LinearRegression (PCA)",
}


@dataclass(frozen=True)
class Op:
    name: str
    layer: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- catalog_corpus -----------------------------------------------------------


def corpus_ops(spark, input_dir: str, out_dir: str, state: dict) -> list[Op]:
    return [
        Op(name, "plans", lambda name=name: QUERIES[name](spark, input_dir), _noop)
        for name in CORPUS_QUERIES
    ]


def corpus_warmup(spark, warm_dir: str) -> None:
    """The scans of the small input's two tables: the session's first jobs.
    Every set-up starts a JVM, and warming every query would add ≈8 s to
    each, ≈2.5 s of it per Python worker pool; the first timed pass pays
    for the plan shapes and the pools instead."""
    for table in ("documents", "embeddings"):
        _noop(load_table(spark, warm_dir, table))


def corpus_check(spark, input_dir: str, out_dir: str, passes: list[dict]) -> dict[str, list[str]]:
    """Each query's rows against its DuckDB oracle over the same files."""
    oracles = _oracle_frames(input_dir, {n: ORACLES[n] for n in CORPUS_QUERIES})
    return {
        name: _guarded(
            lambda: compare(QUERIES[name](spark, input_dir).toPandas(), oracles[name].result())
        )
        for name in CORPUS_QUERIES
    }


def _oracle_frames(input_dir: str, sqls: dict[str, str]) -> dict[str, Future]:
    """Start the DuckDB oracles on one background thread, so they run while
    Spark computes its side of the check (the check is not timed)."""
    pool = ThreadPoolExecutor(1)
    con = duck_connection(input_dir)
    futures = {name: pool.submit(lambda q=sql: con.execute(q).fetchdf()) for name, sql in sqls.items()}
    pool.submit(con.close)
    pool.shutdown(wait=False)
    return futures


# -- ww_pipeline ---------------------------------------------------------------


def ww_ops(spark, input_dir: str, out_dir: str, state: dict) -> list[Op]:
    """One run of the reference pipeline, stage by stage, in CLI order."""
    csv = os.path.join(input_dir, "wastewater_samples.csv")

    def scan():
        state["raw"] = scan_csv(spark, csv, schema=WASTEWATER_SCHEMA)
        return state["raw"]

    def engineer():
        state["eng"] = engineer_features(state["raw"]).persist()
        return state["eng"]

    def weekly_mean():
        eng = state["eng"].na.drop(subset=["sample_collect_date"])
        return A.agg_mean_resampled(
            eng, "sample_collect_date", "log_pcr_target_conc"
        ).orderBy("week_start")

    def monthly_rate():
        flagged = state["eng"].na.drop(subset=["collection_month"])
        return A.agg_conditional_rate(
            flagged.withColumn("flag", F.col("influenza_a_detected")),
            "collection_month",
            "flag",
        ).orderBy("collection_month")

    def top_jurisdictions():
        return R.topk_categories(state["eng"], "wwtp_jurisdiction", 10)

    def ready():
        state["model"] = model_ready(state["eng"])
        return state["model"]

    def fit(_):
        return ml.run_reference_scenarios(
            state["model"], MODEL_FEATURES, LABEL_COLUMN, seed=42, max_iter=ML_MAX_ITER
        )

    def sink(df):
        sink_csv(df, os.path.join(out_dir, "processed_csv"))

    collect = lambda df: df.collect()  # noqa: E731
    return [
        Op("scan_csv", "sources", scan, _noop),
        Op("engineer_features", "features", engineer, _noop),
        Op("ep2_weekly_mean", "operators", weekly_mean, collect),
        Op("ep2_monthly_rate", "operators", monthly_rate, collect),
        Op("ep2_top_jurisdictions", "operators", top_jurisdictions, collect),
        Op("model_ready", "features", ready, lambda df: df.count()),
        Op("run_reference_scenarios", "ml", lambda: None, fit),
        Op("sink_csv", "sinks", lambda: state.pop("eng").unpersist(), sink),
    ]


def ww_warmup(spark, warm_dir: str) -> None:
    """The CSV scan of the small input: the session's first jobs.  EP1, EP2
    and MLlib (whose cold start is ≈10 s) are left cold because every
    set-up starts a JVM; the timed pass pays them, as each run of the CLI
    does."""
    scan = ww_ops(spark, warm_dir, warm_dir, {})[0]
    scan.execute(scan.build())


def _ep1_projection(df):
    """The select list of the ``pipeline_wastewater_ep1`` registry query,
    which is what ``_WW_EP1_SQL`` computes."""
    r6 = lambda c: F.round(F.col(c), 6).alias(c)  # noqa: E731
    flr = lambda expr, name: (F.floor(expr * 1e6 + 0.5) / 1e6).alias(name)  # noqa: E731
    return df.select(
        "sewershed_id", "wwtp_jurisdiction", "county_fips", "counties_served",
        "population_served", "sample_type", "sample_matrix", "sample_location",
        r6("flow_rate"), r6("pcr_target_flowpop_lin"), "pcr_gene_target_agg",
        r6("lod_sewage"), "pasteurized", r6("rec_eff_percent"),
        "collection_month", "collection_week", "collection_dayofweek",
        "flow_rate_missing", "flowpop_lin_missing",
        r6("log_population_served"), r6("log_flow_rate"),
        "influenza_a_detected", r6("log_pcr_target_conc"),
        r6("log_conc_lag1"), r6("log_conc_lag2"), "population_group",
        r6("jurisdiction_target_mean"), "population_group_encoded",
        flr(F.col("log_population_served") * F.col("log_flow_rate"), "pop_x_flow"),
        flr(F.col("log_population_served") * F.col("rec_eff_percent"), "pop_x_rec_eff"),
    )


def ep3_problems(results) -> list[str]:
    """The 4 EP3 rows: every model present, every metric a number in [0, 1]."""
    if results is None:
        return ["no EP3 results"]
    problems = []
    names = {r.model for r in results}
    if names != EP3_MODELS or len(results) != len(EP3_MODELS):
        problems.append(f"EP3 models {sorted(names)}")
    for r in results:
        for metric in ("accuracy", "roc_auc", "average_precision"):
            v = getattr(r, metric)
            if not (isinstance(v, float) and math.isfinite(v) and 0.0 <= v <= 1.0):
                problems.append(f"{r.model} {metric}={v!r}")
    return problems


#: DuckDB versions of the three EP2 aggregates, over ``t7`` — the
#: engineered table inside ``_WW_EP1_SQL``, before its final projection.
EP2_ORACLES = {
    # agg_mean_resampled: Monday-aligned weeks of the sample date.
    "ep2_weekly_mean": """
    SELECT date_trunc('week', ts) AS week_start, avg(log_pcr_target_conc) AS avg_value
    FROM t7 WHERE ts IS NOT NULL GROUP BY 1""",
    "ep2_monthly_rate": """
    SELECT collection_month, count(*) AS total,
           100.0 * avg(CASE WHEN influenza_a_detected = 1 THEN 1 ELSE 0 END) AS detection_rate
    FROM t7 WHERE collection_month IS NOT NULL GROUP BY 1""",
    "ep2_top_jurisdictions": """
    SELECT wwtp_jurisdiction, count(*) AS count FROM t7
    GROUP BY 1 ORDER BY 2 DESC, 1 ASC NULLS FIRST LIMIT 10""",
}


def ww_oracle_sqls(input_dir: str) -> dict[str, str]:
    """The DuckDB oracles of the pipeline's stages over the generated rows:
    the raw table, ``_WW_EP1_SQL`` re-pointed at it, and the EP2 aggregates
    over the same engineered table."""
    parquet = os.path.join(input_dir, "wastewater_samples.parquet")
    ep1 = _WW_EP1_SQL.replace(_WW_FIXTURE, parquet)
    engineered = ep1[: ep1.rindex("\n    SELECT ")]  # drops the final projection
    return {
        "scan_csv": f"SELECT * FROM read_parquet('{parquet}')",
        "engineer_features": ep1,
        **{name: engineered + sql for name, sql in EP2_ORACLES.items()},
    }


def _rows_frame(rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows])


def ww_output_problems(
    oracles: dict[str, pd.DataFrame], passes: list[dict], out_dir: str
) -> dict[str, list[str]]:
    """Each timed pass's outputs against the oracle frames: the collected
    EP2 rows, the ``model_ready`` count (the engineered rows without a null
    feature or label), the EP3 rows, and the rows of the last pass's CSV
    sink (the engineered row count)."""
    ep1 = oracles["engineer_features"]
    n_ready = len(ep1.dropna(subset=MODEL_FEATURES + [LABEL_COLUMN]))
    problems: dict[str, list[str]] = {name: [] for name in EP2_ORACLES}
    problems["model_ready"] = []
    for rec in passes:
        out = rec["outputs"]
        for name in EP2_ORACLES:
            if name in out:
                problems[name] += _guarded(lambda: compare(_rows_frame(out[name]), oracles[name]))
        if "model_ready" in out and out["model_ready"] != n_ready:
            problems["model_ready"].append(f"count {out['model_ready']} != {n_ready}")
    problems["run_reference_scenarios"] = [
        p for rec in passes for p in ep3_problems(rec["outputs"].get("run_reference_scenarios"))
    ]
    problems["sink_csv"] = _guarded(lambda: _sink_problems(out_dir, len(ep1)))
    return problems


def _sink_problems(out_dir: str, n_rows: int) -> list[str]:
    parts = glob.glob(os.path.join(out_dir, "processed_csv", "part-*.csv"))
    written = sum(len(pd.read_csv(p)) for p in parts)
    return [] if written == n_rows else [f"processed_csv has {written} rows, not {n_rows}"]


def ww_check(spark, input_dir: str, out_dir: str, passes: list[dict]) -> dict[str, list[str]]:
    """The scan and the engineered table recomputed and compared with their
    oracles over the same generated rows, and every pass's other outputs
    (:func:`ww_output_problems`)."""
    csv = os.path.join(input_dir, "wastewater_samples.csv")
    futures = _oracle_frames(input_dir, ww_oracle_sqls(input_dir))
    scanned = scan_csv(spark, csv, schema=WASTEWATER_SCHEMA)
    problems = {
        "scan_csv": _guarded(lambda: compare(scanned.toPandas(), futures["scan_csv"].result())),
        "engineer_features": _guarded(
            lambda: compare(
                _ep1_projection(engineer_features(scanned)).toPandas(),
                futures["engineer_features"].result(),
            )
        ),
    }
    try:
        oracles = {name: f.result() for name, f in futures.items()}
    except Exception as e:  # noqa: BLE001 — no oracle fails every operation it checks
        return {**problems, **{n: [f"oracle: {e}"] for n in OP_NAMES["ww_pipeline"]}}
    return {**problems, **ww_output_problems(oracles, passes, out_dir)}


def _guarded(fn: Callable[[], list[str]]) -> list[str]:
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 — an error is a failed check, not a crash
        return [f"{type(e).__name__}: {e}"]


@dataclass(frozen=True)
class Workload:
    name: str
    ops: Callable[..., list[Op]]
    warmup: Callable[..., None]
    check: Callable[..., dict[str, list[str]]]
    #: Passes run before the steady ones ``wall_s`` is taken from.  The
    #: first ``catalog_corpus`` pass starts its plan shapes and Python
    #: worker pools (≈15 s against ≈4 s), so it is cold; the output check
    #: after it reruns every query and so takes the next pass's place,
    #: which still runs 15–30% slower while the JVM's JIT warms.  A
    #: ``ww_pipeline`` pass is the one-shot CLI run, cold by nature and
    #: ≈40 s, so its one pass is also its steady pass.
    cold_passes: int


WORKLOADS = {
    "ww_pipeline": Workload("ww_pipeline", ww_ops, ww_warmup, ww_check, 0),
    "catalog_corpus": Workload("catalog_corpus", corpus_ops, corpus_warmup, corpus_check, 1),
}

#: Every operation name per workload (for the per-op metrics).
OP_NAMES = {
    "ww_pipeline": [op.name for op in ww_ops(None, "", "", {})],
    "catalog_corpus": list(CORPUS_QUERIES),
}
OP_NAMES_ALL = [n for names in OP_NAMES.values() for n in names]
