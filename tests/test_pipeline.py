"""Invariant tests for the star-schema pipeline (SURVEY §5.2.3-4,
FIXTURES.md §4): row preservation, NULL-key join semantics, NULLS-LAST
surrogate ordering, Filed Online normalization, bug-compatible
ReportTimeID."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sfcrimedatapipeline_spark.operators.keys import load_order_id
from sfcrimedatapipeline_spark.plans.dims import (
    build_dim_incident,
    build_dim_location,
    build_dim_report_type,
    generate_dim_date,
    generate_dim_time,
)
from sfcrimedatapipeline_spark.plans.fact import build_fact_crime
from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def tables(spark, staging):
    # serve=True without output_dir: run_pipeline caches the fact
    return run_pipeline(spark, staging, date_range=("2018-01-01", "2024-12-31"))


def test_fact_count_equals_staging(tables, staging):
    # LEFT joins never drop; deduped dims never fan out (FIXTURES §4)
    assert tables["FactCrime"].count() == staging.count()


def test_surrogate_keys_dense(tables):
    for name, key in [
        ("DimLocation", "LocationID"),
        ("DimIncident", "IncidentID"),
        ("DimReportType", "ReportTypeID"),
    ]:
        dim = tables[name]
        n = dim.count()
        stats = dim.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi"), F.countDistinct(key).alias("d")
        ).first()
        assert (stats["lo"], stats["hi"], stats["d"]) == (1, n, n), name


def test_nulls_last_ordering(spark, staging):
    # Postgres ORDER BY ASC places NULLs LAST; the NULL-keyed dim row
    # must therefore get the HIGHEST id, not id 1 (SURVEY §7.4.2).
    dim = build_dim_location(staging)
    max_id = dim.agg(F.max("LocationID")).first()[0]
    null_rows = dim.filter(F.col("AnalysisNeighborhood").isNull())
    assert null_rows.count() > 0, "fixture must produce NULL neighborhoods"
    # all NULL-neighborhood rows sort after every non-NULL row of the
    # same district; the globally-last row has a NULL neighborhood
    assert dim.filter(F.col("LocationID") == max_id).first()["AnalysisNeighborhood"] is None


def test_null_keys_get_null_fk(tables, staging):
    # SQL '=' never matches NULL: NULL category → NULL IncidentID even
    # though DimIncident contains the NULL-keyed row (SURVEY §2.4 J5)
    n_null_cat = staging.filter(F.col("Incident Category").isNull()).count()
    assert n_null_cat > 0
    fact_null_fk = tables["FactCrime"].filter(F.col("IncidentID").isNull()).count()
    n_null_key = staging.filter(
        F.col("Incident Category").isNull()
        | F.col("Incident Subcategory").isNull()
        | F.col("Resolution").isNull()
    ).count()
    assert fact_null_fk == n_null_key


def test_filed_online_never_null(tables):
    assert tables["DimReportType"].filter(F.col("FiledOnline").isNull()).count() == 0
    # fixture has true-or-NULL only → normalized values are both present
    vals = {r["FiledOnline"] for r in tables["DimReportType"].select("FiledOnline").distinct().collect()}
    assert vals == {True, False}


def test_report_time_id_bug_compatible(tables):
    # default output reproduces dags/ELT.py:270: ReportTimeID == IncidentTimeID
    f = tables["FactCrime"]
    assert f.filter(F.col("ReportTimeID") != F.col("IncidentTimeID")).count() == 0


def test_report_time_id_fixed_variant(spark, staging):
    staged = load_order_id(staging, "id")
    dim_date = generate_dim_date(spark)
    dim_time = generate_dim_time(spark)
    fixed = build_fact_crime(
        staged,
        dim_date,
        dim_time,
        build_dim_location(staged),
        build_dim_incident(staged),
        build_dim_report_type(staged),
        fix_report_time_id=True,
    )
    joined = fixed.alias("f").join(
        staged.alias("s"), F.col("f.CrimeID") == F.col("s.id")
    )
    # fixed variant: ReportTimeID is the HHMMSS encoding of Report Datetime's time
    expect = (
        F.hour("s.`Report Datetime`") * 10000
        + F.minute("s.`Report Datetime`") * 100
        + F.second("s.`Report Datetime`")
    )
    assert joined.filter(F.col("f.ReportTimeID") != expect).count() == 0


def test_serve_query(tables):
    serve = tables["ServeInitialReports"]
    rows = serve.count()
    assert rows > 0
    assert "yearMonth" in serve.columns
    kinds = {r["ReportType"] for r in serve.select("ReportType").distinct().collect()}
    assert kinds <= {"Coplogic Initial", "Initial", "Vehicle Initial"}


def test_incident_date_fk_resolves(tables):
    # every staging date is inside the generated calendar range → FK non-NULL
    assert tables["FactCrime"].filter(F.col("IncidentDateID").isNull()).count() == 0
    assert tables["FactCrime"].filter(F.col("IncidentTimeID").isNull()).count() == 0


def test_run_pipeline_observation_metrics(spark, staging):
    """Quality counters ride the pipeline's own actions via the
    Observation API — no separate pass over staging."""
    from pyspark.sql import Observation

    from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline

    obs = Observation("staging_load")
    tables = run_pipeline(spark, staging, serve=False, observation=obs)
    n_fact = tables["FactCrime"].count()  # the action that fills obs
    m = obs.get
    assert m["n_rows"] == n_fact == staging.count()
    assert 0 <= m["n_with_incident_date"] <= m["n_rows"]
    assert 0 <= m["n_null_latitude"] <= m["n_rows"]


def _feed_lines(df, tmp_path) -> list[str]:
    """``df`` as the lines of a pipe-delimited SFPD feed file."""
    import glob

    from sfcrimedatapipeline_spark.sources.csv import SFPD_TIMESTAMP_FORMAT

    out = str(tmp_path / "written")
    (
        df.coalesce(1)
        .write.option("sep", "|")
        .option("header", True)
        .option("timestampFormat", SFPD_TIMESTAMP_FORMAT)
        .csv(out)
    )
    (part,) = glob.glob(f"{out}/part-*.csv")
    with open(part) as fh:
        return fh.read().splitlines()


def _write_feed(lines: list[str], tmp_path, name: str = "feed.csv") -> str:
    # a new file: editing Spark's part file would fail its .crc check
    path = str(tmp_path / name)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


def test_run_pipeline_failfast_on_unread_column(spark, staging, tmp_path):
    """A malformed value in a column no star table reads (CNN) still
    fails the refresh: the staging cache parses every column of every
    row, so FAILFAST sees the whole row."""
    header, first, *rest = _feed_lines(staging.limit(50), tmp_path)
    clean = _write_feed([header, first, *rest], tmp_path, "clean.csv")
    run_pipeline(spark, clean, output_dir=str(tmp_path / "clean"))
    fields = first.split("|")
    fields[header.split("|").index("CNN")] = "not-a-number"
    bad = _write_feed([header, "|".join(fields), *rest], tmp_path, "bad.csv")
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        run_pipeline(spark, bad, output_dir=str(tmp_path / "bad"))


def _plan_nodes(plan) -> list:
    """Every node of a JVM logical plan (not descending into caches)."""
    nodes, stack = [], [plan]
    while stack:
        node = stack.pop()
        nodes.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return nodes


def test_refresh_computes_each_table_once(spark, staging, tmp_path):
    """One refresh parses the feed once (the load-order id's partition
    counts read the staging cache) and serve reads the written fact and
    the dim caches instead of re-deriving them from staging."""
    import os

    feed = _write_feed(_feed_lines(staging, tmp_path), tmp_path)
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem

    def bytes_read() -> int:
        return sum(s.getBytesRead() for s in fs.getAllStatistics())

    before = bytes_read()
    tables = run_pipeline(spark, feed, output_dir=str(tmp_path / "out"))
    assert bytes_read() - before < 1.5 * os.path.getsize(feed)

    nodes = _plan_nodes(
        tables["ServeInitialReports"]._jdf.queryExecution().optimizedPlan()
    )
    names = [n.nodeName() for n in nodes]
    # no DISTINCT + ROW_NUMBER dim derivation, no 7-way LEFT fact join
    assert "Window" not in names and "Aggregate" not in names
    assert [n.joinType().toString() for n in nodes if n.nodeName() == "Join"] == [
        "Inner"
    ] * 5
    leaves = [n for n in nodes if n.children().size() == 0]
    assert sorted(n.nodeName() for n in leaves) == ["InMemoryRelation"] * 5 + [
        "LogicalRelation"
    ]
    (fact_scan,) = [n for n in leaves if n.nodeName() == "LogicalRelation"]
    files = list(fact_scan.relation().inputFiles())
    assert files and all("/out/FactCrime/" in f for f in files)
