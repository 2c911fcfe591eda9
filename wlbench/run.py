"""tada_spark workload benchmark: one closed-loop client on local[N].

Usage, from the root of a checkout of the repository::

    python3 wlbench/run.py --workload iterative|golden \\
        --seed N --seconds S --trace 0|1

One process runs a workload's catalog operations one after another; each
waits for its result (a closed loop with one client). N is the number of
CPUs in this process's affinity mask. A run:

1. writes the workload's input tables into ``wlbench/.data`` once
   (untimed), and gives Spark a fresh scratch directory for
   ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` that is deleted at exit;
2. sets up: times ``import tada_spark`` before anything else imports it,
   then ``get_spark`` plus one scan on a fresh SparkContext, several times
   (``setup_s`` is the import plus the median set-up; launching the JVM
   is recorded but not part of it);
3. times the cold pass (``run.first_pass_s``), runs ``WARMUP_PASSES``
   unmeasured warm-up passes, then times warm passes until ``--seconds``
   have passed and at least ``MIN_MEASURED`` were timed. A pass runs
   every operation once, in an order shuffled from ``--seed``;
4. with ``--trace 1``, runs one more pass with every layer wrapped
   (see tracer.py) and reports the per-layer metrics;
5. stops the JVM and waits for it and its Python workers to exit.

Every output of every pass is checked against its committed golden; an
operation that raises or does not match counts as failed. The last line
of standard output is the result JSON; a record of every pass (times,
CPU, RSS, host steal, other processes' CPU, load average) is written to ``wlbench/.records``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
import tracer as tr  # noqa: E402
from workloads import WORKLOADS, Workload, inputs, load_records  # noqa: E402

#: Unmeasured warm-up passes after the cold pass, and timed passes per
#: run at the least. The JIT compilers are still busy after several more
#: passes (the program generates new code in every pass), so CPU per pass
#: keeps falling; the median of three passes after one warm-up is the
#: middle one of the flatter part of that slope, and one pass hit by a
#: host stall does not move it. More warm-up would make a run too long
#: (see GLOSSARY.md, "Run length").
WARMUP_PASSES = 1
MIN_MEASURED = 3
#: Session set-ups per run: the first launches the JVM, the others are
#: timed on fresh SparkContexts and ``setup_s`` takes their median.
SETUPS = 3

END_TO_END = {
    "cpu_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "pass_s": "s",
    "run.first_pass_s": "s",
    "jvm_peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "queries.load.calls": "count",
    "queries.load.hit_ratio": "ratio",
    "queries.build_s": "s",
    "queries.build.jobs": "count",
    "frame.calls": "count",
    "frame.self_s": "s",
    "operators.calls": "count",
    "operators.self_s": "s",
    "functions.calls": "count",
    "functions.self_s": "s",
    "functions.wait_s": "s",
    "functions.jobs": "count",
    "sources.self_s": "s",
    "sources.rows_out": "count",
    "testing.self_s": "s",
    "testing.rows_compared": "count",
    "driver.cpu_s": "s",
    "pyworker.cpu_s": "s",
    "jvm.jit_s": "s",
    "spark.sql_execs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.exec_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.storage_peak_mb": "MB",
    "host.steal_s": "s",
    "host.other_cpu_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def summary(values: list[float]) -> dict:
    """Median and quartiles with the sample count (no higher percentile
    has ten samples beyond it at these counts)."""
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def isolate(root: str, scratch: str) -> None:
    """Point Spark's Python workers at the checkout and keep every scratch
    file Spark, the JVM or Python writes inside ``scratch``."""
    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
        "pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR


class Bench:
    """Runs passes of one workload on one live session and checks every
    output against its golden."""

    def __init__(self, spark, workload: Workload, sf_dir: str, seed: int) -> None:
        from tada_spark import queries

        self.spark = spark
        self.w = workload
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.fns = {op: queries.CATALOG[op][0] for op in workload.ops}
        self.status = probes.SparkStatus(spark)
        self.cpu = probes.TreeCpu(self.status.jvm_pid)
        self.attempted = 0
        self.failed = 0
        self.want = {op: load_records(op) for op in workload.ops}

    # -- one operation ---------------------------------------------------
    def build(self, op: str):
        return self.fns[op](self.spark, self.sf_dir)

    def sink(self, op: str, df):
        """Run ``df`` to completion inside the timed region: stringify it
        and compare it with its golden records, as a golden test does."""
        from tada_spark import Frame, testing

        return testing.equal_records(Frame(df), self.want[op], sort_rows=True)

    @staticmethod
    def score(op: str, out) -> bool:
        ok, diffs = out
        if not ok:
            log(f"FAIL {op}: {len(diffs)} record diffs, first {diffs[:2]}")
        return ok

    # -- passes ----------------------------------------------------------
    def run_pass(self, kind: str) -> dict:
        """One closed-loop pass over every operation. Outputs are scored
        after the clock stops."""
        order = list(self.w.ops)
        self.rng.shuffle(order)
        outs, op_s, failed = {}, {}, 0
        probes.reset_peak_rss(self.cpu.jvm_pid)
        host0, cpu0, jit0 = probes.host_cpu_s(), self.cpu.read(), self.status.jit_s()
        t0 = time.perf_counter()
        for op in order:
            t = time.perf_counter()
            try:
                outs[op] = self.sink(op, self.build(op))
            except Exception:  # noqa: BLE001 - a raising op is a failed op
                log(f"FAIL {op}: raised\n{traceback.format_exc(limit=5)}")
                outs[op] = None
            op_s[op] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        cpu1, host1, jit1 = self.cpu.read(), probes.host_cpu_s(), self.status.jit_s()
        for op in order:
            self.attempted += 1
            if outs[op] is None or not self.score(op, outs[op]):
                failed += 1
        self.failed += failed
        rec = {
            "kind": kind,
            "wall_s": wall,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "driver_cpu_s": cpu1["driver"] - cpu0["driver"],
            "jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
            "pyworker_cpu_s": cpu1["pyworker"] - cpu0["pyworker"],
            "jit_s": jit1 - jit0,
            "jvm_peak_rss_mb": probes.peak_rss_mb(self.cpu.jvm_pid),
            "steal_s": host1["steal"] - host0["steal"],
            "other_cpu_s": host1["busy"] - host0["busy"] - (cpu1["total"] - cpu0["total"]),
            "load_1m": probes.load_1m(),
            "failed": failed,
            "order": order,
            "op_s": op_s,
        }
        log(f"pass {kind:8s} {wall:7.3f}s cpu {rec['cpu_s']:7.2f}s jit {rec['jit_s']:5.2f}s rss {rec['jvm_peak_rss_mb']:7.1f}MB "
            f"steal {rec['steal_s']:.2f}s other {rec['other_cpu_s']:.2f}s load {rec['load_1m']:.2f} failed {failed}")
        return rec

    def traced_pass(self) -> dict[str, float]:
        """One pass with every layer wrapped. Spark counters are read
        after the listener bus drains; job ids are read at each
        operation's build boundaries."""
        st = self.status
        st.drain()
        job0, sql0, gc0 = st.last_job_id(), st.last_sql_exec_id(), st.jvm_gc_s()
        peak = [st.storage_mb()]
        stop = threading.Event()

        def sample() -> None:
            while not stop.wait(0.05):
                peak[0] = max(peak[0], st.storage_mb())

        sampler = threading.Thread(target=sample, daemon=True)
        t = tr.Tracer()
        order = list(self.w.ops)
        self.rng.shuffle(order)
        outs, build_jobs, failed = {}, 0, 0
        t.install()
        sampler.start()
        t0 = time.perf_counter()
        try:
            for op in order:
                st.drain()
                j0 = st.last_job_id()
                span = t.open("queries", "queries.build")
                try:
                    df = self.build(op)
                except Exception:  # noqa: BLE001 - a raising op is a failed op
                    log(f"FAIL {op}: raised\n{traceback.format_exc(limit=5)}")
                    outs[op] = df = None
                finally:
                    t.close(span)
                st.drain()
                build_jobs += st.last_job_id() - j0
                if df is not None:
                    try:
                        outs[op] = self.sink(op, df)
                    except Exception:  # noqa: BLE001
                        log(f"FAIL {op}: raised\n{traceback.format_exc(limit=5)}")
                        outs[op] = None
        finally:
            wall = time.perf_counter() - t0
            t.remove()
            stop.set()
            sampler.join()
        for op in order:
            self.attempted += 1
            if outs[op] is None or not self.score(op, outs[op]):
                failed += 1
        self.failed += failed
        st.drain()
        job1, sql1, gc1 = st.last_job_id(), st.last_sql_exec_id(), st.jvm_gc_s()
        jobs = st.jobs(job0, job1)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = st.stages(stage_ids)
        self_s, calls = tr.self_times(t.spans), tr.call_counts(t.spans)
        fn_jobs = _jobs_within(jobs, tr.outermost(t.spans, "functions"))
        builds = [s for s in t.spans if s.name == "queries.build"]
        loads = t.counts["queries.load.hits"]
        n_loads = sum(1 for s in t.spans if s.name == "queries.load")
        task_cpu = sum(s["executorCpuTime"] for s in stages) / 1e9
        log(f"pass traced   {wall:7.3f}s jobs {len(jobs)} failed {failed}")
        return {
            "queries.load.calls": n_loads,
            "queries.load.hit_ratio": loads / n_loads if n_loads else 1.0,
            "queries.build_s": sum(s.end - s.start for s in builds),
            "queries.build.jobs": build_jobs,
            "frame.calls": calls.get("frame", 0),
            "frame.self_s": self_s.get("frame", 0.0),
            "operators.calls": calls.get("operators", 0),
            "operators.self_s": self_s.get("operators", 0.0),
            "functions.calls": calls.get("functions", 0),
            "functions.self_s": self_s.get("functions", 0.0),
            "functions.wait_s": t.wait_s["functions"],
            "functions.jobs": fn_jobs,
            "sources.self_s": self_s.get("sources", 0.0),
            "sources.rows_out": t.counts["sources.rows_out"],
            "testing.self_s": self_s.get("testing", 0.0),
            "testing.rows_compared": t.counts["testing.rows_compared"],
            "spark.sql_execs": sql1 - sql0,
            "spark.jobs": len(jobs),
            "spark.stages": len(stage_ids),
            "spark.stages_skipped": sum(j["numSkippedStages"] for j in jobs),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.tasks_failed": sum(s["numFailedTasks"] for s in stages),
            "spark.exec_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.task_cpu_s": task_cpu,
            "spark.gc_s": gc1 - gc0,
            "spark.busy_ratio": task_cpu / (wall * self.spark.sparkContext.defaultParallelism),
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / probes.MB,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / probes.MB,
            "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / probes.MB,
            "spark.input_mb": sum(s["inputBytes"] for s in stages) / probes.MB,
            "spark.storage_peak_mb": peak[0],
            "trace.pass_s": wall,
        }


def _jobs_within(jobs: list[dict], spans: list) -> int:
    """Jobs submitted (epoch ms) inside one of ``spans``."""
    return sum(
        1
        for j in jobs
        if j.get("submissionTime") is not None
        and any(s.start * 1e3 <= j["submissionTime"] <= s.end * 1e3 + 1 for s in spans)
    )


def _median(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes)


def end_to_end(setup_rec: dict, measured: list[dict]) -> dict[str, float]:
    return {
        "cpu_s": _median(measured, "cpu_s"),
        "setup_s": setup_rec["setup_s"],
    }


def per_layer(setup_rec: dict, cold: dict, measured: list[dict], traced: dict) -> dict[str, float]:
    """The traced pass's layer metrics, plus the cold pass, and wall time,
    CPU split, peak RSS and host steal from the untraced measured passes
    (tracing inflates driver CPU)."""
    values = dict(traced)
    values["pass_s"] = _median(measured, "wall_s")
    values["run.first_pass_s"] = cold["wall_s"]
    values["session.get_spark_s"] = setup_rec["session.get_spark_s"]
    values["jvm_peak_rss_mb"] = _median(measured, "jvm_peak_rss_mb")
    values["driver.cpu_s"] = _median(measured, "driver_cpu_s")
    values["pyworker.cpu_s"] = _median(measured, "pyworker_cpu_s")
    values["jvm.jit_s"] = _median(measured, "jit_s")
    values["host.steal_s"] = _median(measured, "steal_s")
    values["host.other_cpu_s"] = _median(measured, "other_cpu_s")
    values["trace.overhead_s"] = traced["trace.pass_s"] - _median(measured, "wall_s")
    return values


def time_import() -> float:
    """Time ``import tada_spark`` with the modules the benchmark drives.
    Called first in a run, before anything has imported the package or
    pyspark, so it is the import a fresh interpreter pays."""
    if "pyspark" in sys.modules or "tada_spark" in sys.modules:
        raise RuntimeError("time_import: pyspark or tada_spark is already imported")
    t = time.perf_counter()
    import tada_spark  # noqa: F401
    from tada_spark import queries, session, sources, testing  # noqa: F401

    return time.perf_counter() - t


def setup(sf_dir: str, cpus: int, import_s: float) -> tuple[object, dict]:
    """``SETUPS`` session set-ups (``get_spark`` plus one scan), each on a
    fresh SparkContext. The first also launches the JVM; ``setup_s`` is
    ``import_s`` (see ``time_import``) plus the median of the others."""
    from tada_spark import queries, session

    rec = {"import_s": import_s, "get_spark_s": [], "scan_s": []}
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = session.get_spark(cpus=cpus)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        queries.load(spark, sf_dir, "lineitem").df.count()
        rec["get_spark_s"].append(t1 - t)
        rec["scan_s"].append(time.perf_counter() - t1)
    rec["jvm_launch_s"] = rec["get_spark_s"][0] + rec["scan_s"][0]
    restarts = [g + s for g, s in zip(rec["get_spark_s"][1:], rec["scan_s"][1:])]
    rec["setup_s"] = import_s + statistics.median(restarts)
    rec["session.get_spark_s"] = statistics.median(rec["get_spark_s"][1:])
    return spark, rec


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, then wait until the JVM
    and every process under it (Spark's Python workers) has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_pid = proc.pid if proc is not None else None
    kids = probes.descendants(jvm_pid) if jvm_pid else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        while any(probes.alive(p) for p in kids) and time.time() < deadline:
            time.sleep(0.05)
        for p in kids:
            if probes.alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    start = time.perf_counter()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tada_spark", "__init__.py")):
        log(f"wlbench: no tada_spark package under {root}; run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    import_s = time_import()
    w = WORKLOADS[args.workload]
    sf_dir = inputs(w.sf)
    phases = {"import_s": import_s, "inputs_s": time.perf_counter() - start - import_s}
    os.makedirs(os.path.join(HERE, ".scratch"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{w.name}-", dir=os.path.join(HERE, ".scratch"))
    isolate(root, scratch)
    cpus = len(os.sched_getaffinity(0))
    spark = None
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        spark, setup_rec = setup(sf_dir, cpus, import_s)
        phase("setup_s")
        bench = Bench(spark, w, sf_dir, args.seed)
        passes = [bench.run_pass("cold")]
        passes += [bench.run_pass("warmup") for _ in range(WARMUP_PASSES)]
        phase("warmup_s")
        measured = []
        while len(measured) < MIN_MEASURED or time.perf_counter() - mark < args.seconds:
            measured.append(bench.run_pass("measured"))
        passes += measured
        phase("measured_s")
        traced = bench.traced_pass() if args.trace else None
        phase("traced_s")
    finally:
        shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    phase("shutdown_s")
    phases["total_s"] = time.perf_counter() - start

    stats = {k: summary([p[k] for p in measured]) for k in ("wall_s", "cpu_s", "jit_s", "jvm_peak_rss_mb", "steal_s", "other_cpu_s")}
    if args.trace:
        values, units = per_layer(setup_rec, passes[0], measured, traced), PER_LAYER
    else:
        values, units = end_to_end(setup_rec, measured), END_TO_END
    record = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "sf": w.sf,
        "setup": setup_rec,
        "phases": phases,
        "passes": passes,
        "measured": stats,
        "metrics": values,
        "attempted": bench.attempted,
        "failed": bench.failed,
    }
    os.makedirs(os.path.join(HERE, ".records"), exist_ok=True)
    path = os.path.join(HERE, ".records", f"{w.name}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    log(f"record: {os.path.relpath(path, root)}")
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    result = {
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
