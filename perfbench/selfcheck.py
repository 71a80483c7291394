"""Fast self-check of the benchmark (a few minutes on 4 cores).

1. Every named metric is emitted: each workload runs at the smoke sizes
   (a 2,000-row feed; 200 documents and vectors, warm-up included) with
   ``--trace 0`` and ``--trace 1``. The last line of standard output must
   hold exactly the contract's keys, every metric ``BENCHMARK.json``
   names for that mode as a finite number with its unit, and
   ``correct: true``.
2. The output checks can fail: real refresh outputs are corrupted one
   invariant at a time, and corpus oracle results are perturbed, and
   each corruption must be reported.

Usage, from the repository root::

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 5


def check_emitted(spec: dict) -> None:
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
                 "--size", "smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
            )
            result = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] is True and result["failed"] == 0, result
            assert isinstance(result["attempted"], int) and result["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = result["metrics"]
            assert set(got) == set(want), set(got) ^ set(want)
            for name, m in got.items():
                assert m["unit"] == want[name], (name, m)
                assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (name, m)
            print(f"ok  {workload} --trace {trace}: {len(got)} metrics, "
                  f"{result['attempted']} calls checked")


def _rewrite(table_dir: str, table: pa.Table) -> None:
    shutil.rmtree(table_dir)
    os.makedirs(table_dir)
    pq.write_table(table, os.path.join(table_dir, "part-0.parquet"))


def _set(table: pa.Table, column: str, row: int, value) -> pa.Table:
    values = table[column].to_pylist()
    values[row] = value
    i = table.schema.get_field_index(column)
    # a nullable field, so a written NULL stays NULL
    return table.set_column(i, pa.field(column, table[column].type), pa.array(values, table[column].type))


def check_refresh_checks_fail(work: str) -> None:
    """Corrupt one real refresh output per invariant; each must be caught."""
    import datagen
    import run
    from workloads import check_refresh
    from sfcrimedatapipeline_spark.plans.pipeline import run_pipeline

    spark = run.start_spark(work, run.cores())
    try:
        facts = datagen.write_staging_feed(os.path.join(work, "feed"), SEED, 2_000)
        good = os.path.join(work, "good")
        run_pipeline(spark, os.path.join(work, "feed"), output_dir=good, serve=True)
    finally:
        run.stop_spark(spark)
    assert check_refresh(good, facts) == [], check_refresh(good, facts)

    def swap_first_two(t: pa.Table, col: str) -> pa.Table:
        a, b = t[col][0].as_py(), t[col][1].as_py()
        return _set(_set(t, col, 0, b), col, 1, a)

    corruptions = {
        "FactCrime": [
            ("fact row dropped", lambda t: t.slice(1)),
            ("ReportTimeID differs", lambda t: _set(t, "ReportTimeID", 0,
                                                    t["IncidentTimeID"][0].as_py() + 1)),
            ("LocationID nulled", lambda t: _set(t, "LocationID", 0, None)),
        ],
        "DimLocation": [("LocationID order broken", lambda t: swap_first_two(t, "LocationID"))],
        "DimIncident": [("IncidentID not dense", lambda t: _set(
            t, "IncidentID", 0, pc.max(t["IncidentID"]).as_py() + 5))],
        "DimReportType": [("FiledOnline NULL", lambda t: _set(t, "FiledOnline", 0, None))],
        "ServeInitialReports": [("serve row dropped", lambda t: t.slice(1))],
    }
    for table, cases in corruptions.items():
        for label, corrupt in cases:
            bad = os.path.join(work, "bad")
            shutil.rmtree(bad, ignore_errors=True)
            shutil.copytree(good, bad)
            _rewrite(os.path.join(bad, table), corrupt(pq.read_table(os.path.join(good, table))))
            problems = check_refresh(bad, facts)
            assert problems, f"refresh check missed: {label}"
            print(f"ok  refresh check caught {label}: {problems[0]}")


def check_corpus_checks_fail(work: str) -> None:
    """Perturb each corpus query's oracle result; the check must flag it."""
    from workloads import SIZES, CorpusIterative, oracle_frames

    wl = CorpusIterative(None, None, work, SEED, SIZES["smoke"])
    wl.make_inputs(os.path.join(work, "corpus"))
    wl.prepare()
    frames = oracle_frames(wl.input_dir, wl.oracles)
    for name, df in frames.items():
        assert wl.check_frame(name, df) == [], name
        col = next(c for c in df.columns if df[c].dtype.kind in "if")
        changed = df.copy()
        changed.loc[changed.index[0], col] = changed[col].iloc[0] + 1
        for label, bad in (("row dropped", df.iloc[1:]), (f"{col} changed", changed)):
            assert wl.check_frame(name, bad), f"corpus check missed: {name} {label}"
            print(f"ok  corpus check caught {name} {label}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)
    import run

    work = run.enter_checkout()
    try:
        check_corpus_checks_fail(work)
        check_refresh_checks_fail(work)
        check_emitted(spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
