"""Repository benchmark: one workload, one fresh SparkSession, one process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload elt_refresh --seed 1 --seconds 12 --trace 0

``--workload`` is ``elt_refresh`` or ``corpus_iterative`` (see
``workloads.py`` for why each exists). The run sets up (session start,
seeded input generation, expected outputs, a warm-up of every timed
call on small inputs), then runs timed calls in a closed loop with one
client until ``--seconds`` have passed, checking every output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, starting and ending untraced (at least
three passes), and reports the per-layer metrics read from Spark's
status store, the tracing overhead (traced minus untraced pass wall),
each call's walls in call order (does a call slow down as the session
ages?) and whether the job counts repeat between traced passes and
against the previous traced run.

Every run writes a new JSON artifact under ``perfbench/results/`` with
the host facts, seed, input sizes, every call's record and the metrics;
it never overwrites an earlier one. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: the workload-specific name of ``pass_s``
ALIASES = {"elt_refresh": "elt_refresh_s", "corpus_iterative": "corpus_pass_s"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["elt_refresh", "corpus_iterative"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "smoke"], default="full",
                   help="input sizes; 'smoke' is for the self-check only")
    return p.parse_args(argv)


def require_checkout() -> None:
    """Refuse to run anywhere but a checkout holding the program."""
    need = ["sfcrimedatapipeline_spark/__init__.py", "__spark_entry__.py",
            "tools/check_correctness.py"]
    missing = [n for n in need if not os.path.isfile(os.path.join(ROOT, n))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the program, missing {missing}")


def enter_checkout() -> str:
    """Make this process import the checkout's program and keep every file
    it writes in a fresh work directory inside the checkout; return it."""
    require_checkout()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import sfcrimedatapipeline_spark  # first: __spark_entry__ edits sys.path
    import __spark_entry__

    for module in (sfcrimedatapipeline_spark, __spark_entry__):
        if not os.path.abspath(module.__file__).startswith(ROOT + os.sep):
            sys.exit(f"perfbench: imported {module.__name__} from outside this checkout")
    work = os.path.join(HERE, ".work", f"{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local", "calls"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    return work


def cores() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """sha256 over the program's Python sources (the checkout may not be a
    git repository, so this identifies the code when no git sha exists)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sfcrimedatapipeline_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


def proc_status_mb(pid: int, field: str) -> float:
    """A memory field of /proc/<pid>/status (VmHWM, VmRSS, ...) in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for pid {pid}")


def memory_after_run(spark, pid: int) -> dict[str, float]:
    """The driver JVM's memory once the last call has returned.

    ``peak_rss_mb`` is the high-water mark over the whole run. Under the
    collector's adaptive heap sizing it varies by 15-20% between runs of
    the same inputs, so the gated figure is ``retained_rss_mb``: resident
    memory after full collections, when the heap has shrunk to what the
    program still holds (cached frames, memos, plans) plus the collector's
    free-ratio headroom, and off-heap memory is what remains allocated."""
    gc.collect()  # release the JVM objects this process no longer refers to
    peak = proc_status_mb(pid, "VmHWM")
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = float("inf")
    # collect until the live heap settles: Spark's ContextCleaner drops
    # broadcast and shuffle state only after a collection has shown it
    # unreachable, and it frees that memory for the next one
    for _ in range(10):
        heap.gc()
        time.sleep(0.5)
        live, before = heap.getHeapMemoryUsage().getUsed() / 2**20, live
        if before - live < 0.01 * live:
            break
    # the collector returns the freed heap to the OS on a background thread
    rss = proc_status_mb(pid, "VmRSS")
    for _ in range(20):
        time.sleep(0.5)
        rss, before = proc_status_mb(pid, "VmRSS"), rss
        if abs(rss - before) < 1:
            break
    return {"peak_rss_mb": peak, "retained_rss_mb": rss, "heap_live_mb": live}


def start_spark(work: str, n: int):
    """The engine's own session factory (its heap and settings), with the
    run's files kept in ``work``."""
    from sfcrimedatapipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=n,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(wl, traces, traced_walls, untraced_walls, get_spark_s, memory, n) -> dict[str, float]:
    """Per-layer metrics over the traced calls (means are per call)."""
    from workloads import CORPUS_QUERIES

    def avg(field: str) -> float:
        return mean([getattr(t, field) for t in traces])

    task_s = sum(t.task_s for t in traces)
    exec_s = sum(t.exec_s for t in traces)
    wall = sum(t.wall_s for t in traces)
    writes = [t for t in traces if t.writes]
    m = {
        "session.get_spark_s": get_spark_s,
        "sources.csv_scan_ratio": (
            mean([t.fs_read_bytes for t in writes]) / wl.input_bytes if writes else 0.0
        ),
        "sources.write_table_s": mean([sum(t.writes.values()) for t in writes]),
        "sources.write_table.FactCrime_s": mean([t.writes.get("FactCrime", 0.0) for t in writes]),
        "sources.output_mb": mean([t.fs_written_bytes for t in writes]) / 2**20,
        "plans.build_s": avg("build_s"),
        "plans.physical_plan_s": avg("physical_plan_s"),
        "plans.build_jobs": avg("build_jobs"),
        "spark.jobs": avg("jobs"),
        "spark.stages": avg("stages"),
        "spark.tasks": avg("tasks"),
        "spark.task_s": avg("task_s"),
        "spark.cpu_s": avg("cpu_s"),
        "spark.gc_s": avg("gc_s"),
        "spark.shuffle_write_mb": avg("shuffle_write_mb"),
        "spark.shuffle_read_mb": avg("shuffle_read_mb"),
        "spark.spill_mb": avg("spill_mb"),
        "spark.slot_util": task_s / (exec_s * n) if exec_s else 0.0,
        "spark.exec_s": avg("exec_s"),
        "spark.transfer_s": avg("transfer_s"),
        "functions.caching.retained_mb": max((t.retained_mb for t in traces), default=0.0),
        "jvm.peak_rss_mb": memory["peak_rss_mb"],
        "jvm.heap_live_mb": memory["heap_live_mb"],
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(untraced_walls),
        "trace.unattributed_frac": sum(t.unattributed_s for t in traces) / wall if wall else 0.0,
        "trace.within_5pct_frac": mean(
            [float(abs(t.unattributed_s) <= 0.05 * t.wall_s) for t in traces]
        ),
    }
    for q in ("run_pipeline", *CORPUS_QUERIES):
        mine = [t for t in traces if t.name == q]
        m[f"plans.{q}.jobs"] = mean([t.jobs for t in mine])
        m[f"plans.{q}.stages"] = mean([t.stages for t in mine])
        m[f"plans.{q}.wall_s"] = statistics.median([t.wall_s for t in mine]) if mine else 0.0
    return m


def load_metric_spec() -> dict[str, list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def write_artifact(record: dict) -> str:
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    base = f"{stamp}_{record['workload']}_seed{record['seed']}_trace{record['trace']}"
    for k in range(1000):
        path = os.path.join(out_dir, f"{base}_{k}.json")
        try:
            with open(path, "x") as fh:  # "x": never overwrite an artifact
                json.dump(record, fh, indent=1, sort_keys=True)
            return path
        except FileExistsError:
            continue
    raise RuntimeError("no free artifact name")


def jobs_per_call(traces) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for t in traces:
        out.setdefault(t.name, []).append(t.jobs)
    return out


def walls_per_call(calls: list[dict]) -> dict[str, list[float]]:
    """Each call name's walls in call order, traced and untraced alike."""
    out: dict[str, list[float]] = {}
    for c in calls:
        out.setdefault(c["name"], []).append(c["wall_s"])
    return out


def distinct_counts(jobs: dict[str, list[int]]) -> dict[str, set[int]]:
    return {name: set(counts) for name, counts in jobs.items()}


def previous_jobs(record: dict) -> dict[str, list[int]] | None:
    """Jobs per call of the newest earlier traced artifact of the same
    workload, seed, sizes and program sources, if there is one."""
    out_dir = os.path.join(HERE, "results")
    same = ("workload", "seed", "size", "source_sha256")
    for f in sorted(os.listdir(out_dir) if os.path.isdir(out_dir) else [], reverse=True):
        if "_trace1_" not in f:
            continue
        with open(os.path.join(out_dir, f)) as fh:
            rec = json.load(fh)
        if all(rec.get(k) == record[k] for k in same):
            return rec.get("jobs_per_call")
    return None


def run(args: argparse.Namespace) -> int:
    n = cores()
    work = enter_checkout()
    import tracing
    from workloads import SIZES, WORKLOADS

    spec = load_metric_spec()
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_spark(work, n)
        get_spark_s = time.perf_counter() - t_setup
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        driver_memory = spark.conf.get("spark.driver.memory")
        reader = tracing.StatusReader(spark, n)
        wl = WORKLOADS[args.workload](spark, reader, work, args.seed, SIZES[args.size])

        t = time.perf_counter()
        wl.make_inputs(os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        calls, traces, problems = [], [], []
        pass_walls = {False: [], True: []}
        t_loop = time.perf_counter()
        n_pass = 0
        while True:
            # U T U T U ...: untraced passes on both sides of the traced
            # ones, so a drift over the run (JIT still settling) cancels
            # out of the tracing overhead
            traced = bool(args.trace) and n_pass % 2 == 1
            pass_wall = 0.0
            for name in wl.call_names:
                trace = tracing.CallTrace(name, 0.0) if traced else None
                try:
                    found = wl.call(name, trace)
                except Exception as ex:  # a failed call is counted, the run goes on
                    found = [f"{name}: raised {type(ex).__name__}: {str(ex)[:300]}"]
                    wl.last_wall = float("nan")
                calls.append({"pass": n_pass, "name": name, "traced": traced,
                              "wall_s": wl.last_wall, "problems": found})
                problems += found
                pass_wall += wl.last_wall
                if trace is not None:
                    traces.append(trace)
            pass_walls[traced].append(pass_wall)
            n_pass += 1
            enough = time.perf_counter() - t_loop >= args.seconds
            if enough and (not args.trace or (n_pass >= 3 and n_pass % 2 == 1)):
                break
        memory = memory_after_run(spark, jvm_pid)
        spark_version = spark.version
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for c in calls if c["problems"])
    untraced_pass = [w for w in pass_walls[False] if w == w]
    end_to_end = {
        "setup_s": setup_s,
        "pass_s": statistics.median(untraced_pass) if untraced_pass else float("nan"),
        "retained_rss_mb": memory["retained_rss_mb"],
    }
    layers = {}
    if args.trace:
        layers = per_layer(wl, traces, pass_walls[True], pass_walls[False], get_spark_s,
                           memory, n)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "size": args.size,
        "nproc": n,
        "master": f"local[{n}]",
        "driver_memory": driver_memory,
        "spark_version": spark_version,
        "python": sys.version.split()[0],
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "input_sizes": wl.input_sizes(),
        "setup": {"get_spark_s": get_spark_s, "make_inputs_s": gen_s,
                  "expected_outputs_s": prepare_s, "warm_up_s": warm_s, "setup_s": setup_s},
        "passes": n_pass,
        "pass_walls_s": pass_walls[False],
        "traced_pass_walls_s": pass_walls[True],
        "calls": calls,
        "attempted": len(calls),
        "failed": failed,
        "failed_frac": failed / len(calls),
        "end_to_end": end_to_end,
        "memory": memory,
        "per_layer": layers,
        "traces": [asdict(t) for t in traces],
        "jobs_per_call": jobs_per_call(traces),
        "walls_per_call": walls_per_call(calls),
    }
    if args.trace:
        prev = previous_jobs(record)
        record["jobs_repeat_previous_run"] = (
            None if prev is None
            else distinct_counts(prev) == distinct_counts(record["jobs_per_call"])
        )
    path = write_artifact(record)

    report_names = "end_to_end" if not args.trace else "per_layer"
    values = end_to_end if not args.trace else layers
    units = {m["name"]: m["unit"] for m in spec[report_names]}
    # a metric no successful call could give reads 0 (the run is then not correct)
    metrics = {k: {"value": values[k] if values[k] == values[k] else 0.0, "unit": units[k]}
               for k in units}
    print(f"workload {args.workload}  seed {args.seed}  local[{n}]  "
          f"passes {n_pass}  calls {len(calls)}  artifact {os.path.relpath(path, ROOT)}")
    for k, v in metrics.items():
        print(f"  {k:36s} {v['value']:14.6f} {v['unit']}")
    print(f"  {'failed_frac':36s} {failed / len(calls):14.6f} ratio")
    if not args.trace:
        print(f"  {ALIASES[args.workload]:36s} {end_to_end['pass_s']:14.6f} s  "
              "(= pass_s on this workload)")
        print(f"  {'peak_rss_mb':36s} {memory['peak_rss_mb']:14.6f} MB  "
              "(not gated: varies with the collector's heap sizing)")
    else:
        print("  per call, medians over traced calls: "
              "wall = build + plan + exec + transfer + unattributed")
        for name in dict.fromkeys(wl.call_names):
            mine = [t for t in traces if t.name == name]
            if not mine:
                continue
            med = {f: statistics.median([getattr(t, f) for t in mine]) for f in (
                "wall_s", "build_s", "physical_plan_s", "exec_s", "transfer_s",
                "unattributed_s")}
            print(f"  {name:24s} {med['wall_s']:7.3f} = {med['build_s']:.3f} + "
                  f"{med['physical_plan_s']:.3f} + {med['exec_s']:.3f} + "
                  f"{med['transfer_s']:.3f} + {med['unattributed_s']:.3f} "
                  f"({100 * med['unattributed_s'] / med['wall_s']:.1f}% unattributed)")
        # does a call slow down as the session ages (e.g. a memo or the
        # cache manager growing)? first vs last wall of each call name
        for name, walls in record["walls_per_call"].items():
            print(f"  {name:24s} walls in call order {[round(w, 3) for w in walls]}  "
                  f"last/first {walls[-1] / walls[0]:.3f}")
        prev = record["jobs_repeat_previous_run"]
        print(f"  spark.jobs per call {record['jobs_per_call']} repeats the previous "
              "traced run of this seed and code: "
              + ("no earlier run" if prev is None else ("yes" if prev else "NO")))
    for p in problems[:10]:
        print(f"  FAILED CHECK {p}")
    print(json.dumps({"correct": failed == 0, "attempted": len(calls), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # on SIGTERM, still stop the JVM and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(run(parse_args(sys.argv[1:])))
