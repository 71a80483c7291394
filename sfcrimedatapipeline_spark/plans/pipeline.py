"""End-to-end pipeline composition (SURVEY §2.9, §3).

The reference's orchestration is an Airflow DAG ``fetch → load →
transform [→ serve]`` (/root/reference/dags/ELT.py:361-378). Here each
stage is a pure DataFrame transform; ``run_pipeline`` is the plain
function composition. Atomicity maps to per-table overwrite writes —
same observable behavior as the reference's per-stage transactions,
because every run rebuilds all tables from staging anyway.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.functions.caching import unpersist_when_released
from sfcrimedatapipeline_spark.operators.keys import load_order_id
from sfcrimedatapipeline_spark.plans.dims import (
    build_dim_incident,
    build_dim_location,
    build_dim_report_type,
    generate_dim_date,
    generate_dim_time,
)
from sfcrimedatapipeline_spark.plans.fact import build_fact_crime, serve_initial_reports
from sfcrimedatapipeline_spark.sources.csv import read_staging_csv
from sfcrimedatapipeline_spark.sources.serve import export_csv, fetch
from sfcrimedatapipeline_spark.sources.tables import write_table


def transform(
    staging_with_id: DataFrame,
    dim_date: DataFrame,
    dim_time: DataFrame,
    fix_report_time_id: bool = False,
) -> dict[str, DataFrame]:
    """The 7-statement transform graph (dags/ELT.py:113-301) as dataflow.

    Every dim is persisted, so each one is computed once however many
    consumers it has: its own write, the fact build's broadcasts (DimDate
    is joined twice) and the serve query's broadcasts.
    This mirrors the reference, which materializes each dim as a Postgres
    table before the fact ``INSERT..SELECT`` reads it. The three
    staging-derived dims would otherwise each re-run their DISTINCT +
    ROW_NUMBER for every consumer.

    ``staging_with_id`` is the load step's table, read by the three dim
    builds and the fact build: the caller materializes it (run_pipeline
    caches the parsed feed). The dim caches are released when the caller
    drops the returned fact frame.
    """
    dims = {
        "DimDate": dim_date.persist(),
        "DimTime": dim_time.persist(),
        "DimLocation": build_dim_location(staging_with_id).persist(),
        "DimIncident": build_dim_incident(staging_with_id).persist(),
        "DimReportType": build_dim_report_type(staging_with_id).persist(),
    }
    fact = build_fact_crime(
        staging_with_id,
        dims["DimDate"],
        dims["DimTime"],
        dims["DimLocation"],
        dims["DimIncident"],
        dims["DimReportType"],
        fix_report_time_id=fix_report_time_id,
    )
    # Release the per-run caches when the caller drops the fact frame
    # (dicts are not weakref-able; every caller keeps the fact at least
    # as long as the dims) — a long-lived app running many pipelines
    # must not accumulate per-run cached dim frames (ADVICE r4).
    fact = unpersist_when_released(fact, *dims.values())
    return {**dims, "FactCrime": fact}


def run_pipeline(
    spark: SparkSession,
    staging: DataFrame | str,
    output_dir: str | None = None,
    date_range: tuple[str, str] = ("2018-01-01", "2024-12-31"),
    fix_report_time_id: bool = False,
    serve: bool = True,
    source_url: str | None = None,
    serve_export_dir: str | None = None,
    observation: Observation | None = None,
) -> dict[str, DataFrame]:
    """Full refresh: extract (optional) → load → transform → (optional)
    serve + export — the reference DAG end-to-end (dags/ELT.py:361-378).

    ``staging`` is either an already-loaded DataFrame or a path to the
    pipe-delimited feed; with ``source_url`` set, the feed is first
    streamed to that path (S1, dags/ELT.py:22-36). If ``output_dir`` is
    given every table is materialized as parquet (overwrite, the
    reference's TRUNCATE+rebuild). ``serve_export_dir`` writes the
    serve result through the neutral CSV sink (S7, the Sheets stand-in).
    """
    if source_url is not None:
        if not isinstance(staging, str):
            raise ValueError("source_url requires `staging` to be a local path")
        fetch(source_url, staging)
    if isinstance(staging, str):
        staging = read_staging_csv(spark, staging)
    # pipeline observability: with an Observation passed in, data-quality
    # counters ride whatever action the caller already runs (write,
    # count) — no extra pass over the data, unlike a separate
    # .count()/.agg() preflight. observation.get blocks until the first
    # action computes the observed node.
    if observation is not None:
        staging = staging.observe(
            observation,
            F.count(F.lit(1)).alias("n_rows"),
            F.count("Incident Date").alias("n_with_incident_date"),
            F.sum(F.col("Latitude").isNull().cast("long")).alias("n_null_latitude"),
        )
    # Load (COPY + SERIAL, dags/ELT.py:92-100): the feed is parsed once
    # into the staging cache, and the load-order id's per-partition counts
    # read that cache instead of rescanning the file. The cache keeps all
    # 34 columns: FAILFAST rejects a malformed field only when the whole
    # row is parsed, and a projected scan would skip that check.
    release = []
    if staging.storageLevel == StorageLevel.NONE:
        staging = staging.persist()
        release.append(staging)
    staging_with_id = load_order_id(staging, "id")

    tables = transform(
        staging_with_id,
        generate_dim_date(spark, *date_range),
        generate_dim_time(spark),
        fix_report_time_id=fix_report_time_id,
    )
    fact = unpersist_when_released(tables["FactCrime"], *release)
    if output_dir:
        for name, df in tables.items():
            write_table(df, os.path.join(output_dir, name))
    if serve:
        # Serve reads the fact's materialization instead of re-running the
        # 7-join: the written table, as the reference's serve reads
        # FactCrime, else a cache of the fact.
        if output_dir:
            source = spark.read.parquet(os.path.join(output_dir, "FactCrime"))
        else:
            source = fact.persist()
        served = serve_initial_reports(
            source,
            tables["DimDate"],
            tables["DimTime"],
            tables["DimLocation"],
            tables["DimIncident"],
            tables["DimReportType"],
        )
        # The serve frame holds the fact, and so every refresh cache, for
        # as long as the caller holds it; dropping it releases the fact
        # cache (the fact cannot release its own cache: the finalizer
        # would keep the frame alive).
        tables["ServeInitialReports"] = unpersist_when_released(served, fact)
        if serve_export_dir:
            export_csv(served, serve_export_dir)
        if output_dir:
            write_table(served, os.path.join(output_dir, "ServeInitialReports"))
    return tables
