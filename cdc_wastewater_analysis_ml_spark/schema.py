"""Explicit schemas for the wastewater domain (SURVEY §1.2, FIXTURES.md §B).

The reference infers its schema by scanning the whole CSV
(``pd.read_csv(low_memory=False)``, codes.py:21).  At 100 TB inference is a
full extra pass, so the engine ships the schema as a constant; ``scan_csv``
accepts it directly.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Raw input schema — the 20 columns the reference pipeline reads
#: (SURVEY §1.2; unreferenced columns of the 35-col original omitted).
WASTEWATER_SCHEMA = StructType(
    [
        StructField("sewershed_id", LongType()),
        StructField("wwtp_jurisdiction", StringType()),
        StructField("county_fips", StringType()),
        StructField("counties_served", StringType()),
        StructField("population_served", LongType()),
        StructField("sample_id", StringType()),
        StructField("sample_collect_date", StringType()),  # parsed by the pipeline
        StructField("sample_type", StringType()),
        StructField("sample_matrix", StringType()),
        StructField("sample_location", StringType()),
        StructField("flow_rate", DoubleType()),
        StructField("pcr_target", StringType()),
        StructField("pcr_target_avg_conc", DoubleType()),
        StructField("pcr_target_flowpop_lin", DoubleType()),
        StructField("pcr_gene_target_agg", StringType()),
        StructField("lod_sewage", DoubleType()),
        StructField("pasteurized", StringType()),
        StructField("rec_eff_percent", DoubleType()),
        StructField("rec_eff_spike_conc", DoubleType()),
        StructField("date_updated", StringType()),
    ]
)

#: Columns dropped mid-pipeline (codes.py:72-79).
DROP_COLUMNS = [
    "inhibition_adjust",
    "sample_id",
    "date_updated",
    "rec_eff_target_name",
    "rec_eff_spike_matrix",
    "rec_eff_spike_conc",
    "hum_frac_mic_unit",
    "pcr_target_mic_lin",
    "hum_frac_mic_conc",
    "hum_frac_target_mic",
    "ntc_amplify",
    "pcr_target",
]

#: The 14 model features (codes.py:183-189).
MODEL_FEATURES = [
    "collection_month",
    "collection_week",
    "collection_dayofweek",
    "log_population_served",
    "log_flow_rate",
    "rec_eff_percent",
    "flow_rate_missing",
    "flowpop_lin_missing",
    "population_group_encoded",
    "log_conc_lag1",
    "log_conc_lag2",
    "jurisdiction_target_mean",
    "pop_x_flow",
    "pop_x_rec_eff",
]

#: Population bucketing (codes.py:61-63): left-closed [lo, hi) edges.
POPULATION_BINS = [0.0, 20_000.0, 50_000.0, 200_000.0, float("inf")]
POPULATION_LABELS = ["Small", "Medium", "Large", "Very Large"]

LABEL_COLUMN = "influenza_a_detected"


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for Spark SQL text and ``F.col``.

    Embedded backticks are doubled, so any legal column name — spaces,
    dots, non-ASCII, backticks — parses as exactly one identifier and can
    never inject SQL into a rendered expression."""
    return "`" + name.replace("`", "``") + "`"
