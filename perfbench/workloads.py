"""The benchmark's workloads: what one timed call does and how it is checked.

Both workloads run as a closed loop with one client: the next call
starts when the previous one and its output check have finished.

- ``elt_refresh``: ``plans.pipeline.run_pipeline(feed, output_dir, serve=True)``,
  the paper's daily refresh. Write-heavy: CSV parse, load-order ids,
  dimension DISTINCT + surrogate keys, the 7-join fact fan-in and the
  parquet writes. Plan building is small and nothing iterates.
- ``corpus_iterative``: passes over four driver-side fixpoint and
  trainer loops (connected components, PageRank, k-means, trained PQ
  search), each firing dozens of Spark jobs per call. The refresh
  bypasses all of them.

A call never reuses an input path (see ``datagen.link_copy``), so a
cache keyed on the path cannot carry work from one call to the next.
"""

from __future__ import annotations

import gc
import os
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
import tracing

#: corpus queries timed per pass, as named by ``__spark_entry__.queries()``
CORPUS_QUERIES = (
    "dedup_clusters_2phase",
    "pagerank_dup_graph",
    "emb_kmeans_train",
    "ann_pq_topk_trained",
)

#: Per-workload input sizes; "smoke" is the self-check's. A run starts
#: its own JVM and warms up, and all runs of both workloads must fit one
#: hour, so a full run must stay near a minute. On 4 cores a warm refresh
#: takes ~7.5 s plus ~1.5 s per 100k feed rows (~16 s at 500k, ~22 s at
#: 1M); a corpus pass ~15 s at 500 documents and vectors, ~20 s at
#: 2,000/1,000 and ~28 s at the sf0.1 sizes (5,000/2,000), and the
#: DuckDB oracles grow from ~4 s to ~11 s between the first two. The
#: warm-up inputs are smaller than the timed ones but large enough to
#: compile the per-row code paths.
SIZES = {
    "full": {"feed_rows": 500_000, "warm_feed_rows": 50_000, "docs": 500, "vecs": 500,
             "warm_docs": 200, "warm_vecs": 200},
    "smoke": {"feed_rows": 2_000, "warm_feed_rows": 1_000, "docs": 200, "vecs": 200,
              "warm_docs": 200, "warm_vecs": 200},
}


class Workload:
    """One workload's inputs, timed calls and output checks."""

    name = ""
    call_names: tuple[str, ...] = ()

    def __init__(self, spark, reader: tracing.StatusReader, work: str, seed: int,
                 sizes: dict[str, int]):
        self.spark = spark
        self.reader = reader
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self._n = 0
        self.input_dir = ""
        self.input_bytes = 0

    def fresh_dir(self, kind: str) -> str:
        self._n += 1
        return os.path.join(self.work, "calls", f"{self._n:05d}-{kind}")

    def make_inputs(self, dest: str) -> None:
        """Generate this seed's inputs under ``dest`` (repeatable)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute the expected outputs once."""

    def warm_up(self) -> None:
        raise NotImplementedError

    def call(self, name: str, trace: tracing.CallTrace | None) -> list[str]:
        """Run one call on a fresh copy of the inputs; return problems
        found by its output check (empty when correct). Sets
        ``self.last_wall`` to the call's wall time."""
        raise NotImplementedError

    def input_sizes(self) -> dict[str, int]:
        raise NotImplementedError


class EltRefresh(Workload):
    name = "elt_refresh"
    call_names = ("run_pipeline",)

    def make_inputs(self, dest: str) -> None:
        self.facts = datagen.write_staging_feed(dest, self.seed, self.sizes["feed_rows"])
        self.input_dir = dest
        self.input_bytes = self.facts.bytes

    def input_sizes(self) -> dict[str, int]:
        return {"feed_rows": self.facts.rows, "feed_bytes": self.facts.bytes}

    def warm_up(self) -> None:
        from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline

        feed = os.path.join(self.work, "warm-feed")
        facts = datagen.write_staging_feed(feed, self.seed + 1, self.sizes["warm_feed_rows"])
        out = self.fresh_dir("warm-out")
        tables = run_pipeline(self.spark, feed, output_dir=out, serve=True)
        del tables
        gc.collect()
        problems = check_refresh(out, facts)
        if problems:
            raise RuntimeError(f"warm-up refresh is wrong: {problems}")

    def call(self, name: str, trace: tracing.CallTrace | None) -> list[str]:
        from sfcrimedatapipeline_spark.plans import pipeline

        src = self.fresh_dir("in")
        datagen.link_copy(self.input_dir, src)
        out = self.fresh_dir("out")
        if trace is None:
            t0 = time.perf_counter()
            tables = pipeline.run_pipeline(self.spark, src, output_dir=out, serve=True)
            self.last_wall = time.perf_counter() - t0
        else:
            tables = self._traced(pipeline, src, out, trace)
        del tables
        gc.collect()
        if trace is not None:
            trace.retained_mb = self.reader.retained_mb()
        return check_refresh(out, self.facts)

    def _traced(self, pipeline, src: str, out: str, trace: tracing.CallTrace):
        """run_pipeline with each ``write_table`` call it makes timed.

        Plan building is everything before the first write; physical
        planning happens inside each write and is not split out."""
        real_write = pipeline.write_table
        first_write: list[float] = []

        def timed_write(df, path, *args, **kwargs):
            t = time.time()
            first_write.append(t)
            real_write(df, path, *args, **kwargs)
            trace.writes[os.path.basename(path)] = time.time() - t

        self.reader.begin("run_pipeline")
        pipeline.write_table = timed_write
        try:
            t0 = time.time()
            tables = pipeline.run_pipeline(self.spark, src, output_dir=out, serve=True)
            t_end = time.time()
        finally:
            pipeline.write_table = real_write
            self.reader.end()
        self.last_wall = trace.wall_s = t_end - t0
        t_build = first_write[0] if first_write else t_end
        self.reader.collect(trace, "run_pipeline", t0, t_build, t_build, t_end, collects=False)
        return tables


def _dense_in_key_order(table, keys: list[str], id_col: str, flip: str = "") -> list[str]:
    """Surrogate ids are 1..N in ascending key order, NULLS LAST, keys unique."""
    df = table.to_pandas()
    if flip:  # FiledOnline: raw true sorts before raw NULL (now false)
        df["_flip"] = ~df[flip].astype(bool)
        keys = [k if k != flip else "_flip" for k in keys]
    problems = []
    if df.duplicated(keys).any():
        problems.append(f"{id_col}: duplicate natural keys")
    ordered = df.sort_values(keys, na_position="last", kind="stable")[id_col].to_numpy()
    if not np.array_equal(ordered, np.arange(1, len(df) + 1)):
        problems.append(f"{id_col}: not dense 1..N in key order NULLS LAST")
    return problems


def check_refresh(out: str, facts: datagen.FeedFacts) -> list[str]:
    """FIXTURES.md §4 invariants of one refresh's written tables."""
    read = lambda t: pq.read_table(os.path.join(out, t))  # noqa: E731
    problems: list[str] = []
    fact = read("FactCrime")
    if fact.num_rows != facts.rows:
        problems.append(f"FactCrime has {fact.num_rows} rows, feed has {facts.rows}")
    ids = fact["CrimeID"]
    if fact.num_rows and (
        pc.min(ids).as_py() != 1 or pc.max(ids).as_py() != fact.num_rows
        or pc.count_distinct(ids).as_py() != fact.num_rows
    ):
        problems.append("CrimeID is not 1..N")
    if not pc.all(pc.equal(fact["ReportTimeID"], fact["IncidentTimeID"])).as_py():
        problems.append("ReportTimeID != IncidentTimeID")
    if fact["LocationID"].null_count != facts.null_location_rows:
        problems.append("NULL LocationID count differs from NULL-neighborhood feed rows")
    if fact["IncidentID"].null_count != facts.null_incident_rows:
        problems.append("NULL IncidentID count differs from NULL-category feed rows")
    problems += _dense_in_key_order(
        read("DimLocation"), ["PoliceDistrict", "AnalysisNeighborhood"], "LocationID"
    )
    problems += _dense_in_key_order(
        read("DimIncident"), ["IncidentCategory", "IncidentSubcategory", "Resolution"],
        "IncidentID",
    )
    report = read("DimReportType")
    if report["FiledOnline"].null_count:
        problems.append("DimReportType.FiledOnline has NULLs")
    else:
        problems += _dense_in_key_order(
            report, ["ReportType", "ReportTypeCode", "FiledOnline"], "ReportTypeID",
            flip="FiledOnline",
        )
    for table, rows in (("DimDate", 2557), ("DimTime", 86_400)):
        if read(table).num_rows != rows:
            problems.append(f"{table} does not have {rows} rows")
    served = read("ServeInitialReports").num_rows
    if served != facts.served_rows:
        problems.append(f"ServeInitialReports has {served} rows, expected {facts.served_rows}")
    return problems


class CorpusIterative(Workload):
    name = "corpus_iterative"
    call_names = CORPUS_QUERIES

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        import __spark_entry__ as entry

        queries, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: queries[q] for q in CORPUS_QUERIES}
        self.oracles = {q: oracles[q] for q in CORPUS_QUERIES}

    def make_inputs(self, dest: str) -> None:
        datagen.write_corpus_tables(dest, self.seed, self.sizes["docs"], self.sizes["vecs"])
        self.input_dir = dest
        self.input_bytes = sum(
            os.path.getsize(os.path.join(dest, f)) for f in os.listdir(dest)
        )

    def input_sizes(self) -> dict[str, int]:
        return {"docs": self.sizes["docs"], "vecs": self.sizes["vecs"],
                "input_bytes": self.input_bytes}

    def prepare(self) -> None:
        self.expected = oracle_signatures(self.input_dir, self.oracles)

    def warm_up(self) -> None:
        warm = os.path.join(self.work, "warm-corpus")
        datagen.write_corpus_tables(
            warm, self.seed + 1, self.sizes["warm_docs"], self.sizes["warm_vecs"]
        )
        for q in CORPUS_QUERIES:
            src = self.fresh_dir("warm-in")
            datagen.link_copy(warm, src)
            self.fns[q](self.spark, src).toPandas()
            gc.collect()

    def call(self, name: str, trace: tracing.CallTrace | None) -> list[str]:
        src = self.fresh_dir("in")
        datagen.link_copy(self.input_dir, src)
        fn = self.fns[name]
        if trace is None:
            t0 = time.perf_counter()
            pdf = fn(self.spark, src).toPandas()
            self.last_wall = time.perf_counter() - t0
        else:
            self.reader.begin(name)
            try:
                t0 = time.time()
                df = fn(self.spark, src)
                t_build = time.time()
                df._jdf.queryExecution().executedPlan()
                t_plan = time.time()
                pdf = df.toPandas()
                t_end = time.time()
            finally:
                self.reader.end()
            self.last_wall = trace.wall_s = t_end - t0
            del df
            self.reader.collect(trace, name, t0, t_build, t_plan, t_end, collects=True)
        problems = self.check_frame(name, pdf)
        del pdf
        gc.collect()
        if trace is not None:
            trace.retained_mb = self.reader.retained_mb()
        return problems

    def check_frame(self, name: str, pdf) -> list[str]:
        """Compare a result with its DuckDB oracle the way the correctness
        gate does: row count, column dtypes and order-insensitive value hash."""
        from check_correctness import frame_sig

        got, want = frame_sig(pdf), self.expected[name]
        if got != want:
            return [f"{name}: (hash, columns, rows) {got} != oracle {want}"]
        return []


def oracle_frames(sf_dir: str, oracles: dict[str, str]) -> dict:
    """Each query's DuckDB oracle result over the tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            table = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
        return {q: con.sql(sql).df() for q, sql in oracles.items()}
    finally:
        con.close()


def oracle_signatures(sf_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """``check_correctness.frame_sig`` of each query's DuckDB oracle."""
    from check_correctness import frame_sig

    return {q: frame_sig(df) for q, df in oracle_frames(sf_dir, oracles).items()}


WORKLOADS = {w.name: w for w in (EltRefresh, CorpusIterative)}

