#!/usr/bin/env python3
"""The graft benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Workloads (op lists in perfbench/harness/GraftBench.scala):

* ``relational``: SparkEntry ``q*`` queries over the committed sf0.01
  tables (perfbench/data) into a ``noop`` sink; the seed permutes their
  order.
* ``training_iterative``: iterative SparkEntry ``dedup_*`` and ``graph_*``
  queries over the same tables into a ``noop`` sink; the seed permutes
  their order.
* ``etl_cli``: reference-style ``Pipeline.fromArgs(...).run(spark)``
  pipelines over a seeded multi-file rewrite of the query tables.

Load model: one JVM, one client thread, closed loop (the next op starts
when the previous one ends), Spark ``local[N]`` with N = the CPUs this
process may use. Steps of a run:

1. build graft and the harness from source (perfbench/build.py, cached);
2. make the inputs (perfbench/gen_data.py): the query tables are the
   committed sf0.01 tables, the etl_cli rewrite of them is made from
   ``--seed`` every run;
3. in one JVM: set up (JVM start, session build, a warm-up op), run every
   op once with its output dumped, then run the op list in passes until
   ``--seconds`` have passed;
4. set up cold in two more JVMs; ``setup_s`` is the median of the three;
5. compare every dumped output with DuckDB (perfbench/check.py);
6. print one report line per metric, then the result as one JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics, the tracing
overhead, and writes spans and per-op layer numbers to
``.bench_out/trace-<workload>-seed<seed>.json``. Every run leaves its
result file and Spark's log in ``.bench_out/``.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen_data  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_DIR = os.path.join(ROOT, ".bench_run")
OUT_DIR = os.path.join(ROOT, ".bench_out")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")  # 60,000 lineitem rows, one file per table
WORKLOADS = ("relational", "training_iterative", "etl_cli")
ETL_TABLES = ["lineitem", "orders", "events", "documents"]
SETUPS = 3  # cold set-ups per run, each in its own JVM; setup_s is their median
SETUP_TIMEOUT_S = 60
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm_timeout(seconds):
    """Set-up and check pass, plus room for the measured passes to run
    several times slower than `seconds`."""
    return 100 + 12 * seconds


def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_quantile(samples, p):
    """Harrell-Davis estimate of quantile p: a Beta-weighted average of all
    order statistics, so it moves smoothly when ops of similar time trade
    ranks between runs. Over three 10-seed sets on a shared 4-core machine
    its spread (IQR/median) was at most 0.16 for op_p50_s and 0.18 for
    op_tail_s, against 0.20 and 0.22 for the plain sample quantiles."""
    s = sorted(samples)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = 20000  # midpoint rule on the Beta(a, b) density over [0, 1]
    dens = [((k + 0.5) / grid) ** (a - 1) * (1 - (k + 0.5) / grid) ** (b - 1) for k in range(grid)]
    total = sum(dens)
    weights = [sum(dens[i * grid // n:(i + 1) * grid // n]) / total for i in range(n)]
    return sum(w * x for w, x in zip(weights, s))


def tail_percentile(n):
    """Highest percentile with at least ten samples beyond it; with fewer
    than 20 samples, the 90th."""
    return (n - 10) / n if n >= 20 else 0.9


def end_to_end(res, tables, etl_manifest):
    """Each op's time is its median over the untraced passes; wall_s and
    cpu_s sum those over the op list, op_p50_s and op_tail_s are quantiles
    of them. rows_per_s: the rows of every op's input tables (a fixed
    count per workload) over wall_s."""
    passes = [p for p in res["passes"] if not p["traced"]]
    ops = res["ops"]
    wall = {op: median([p["op_wall_s"][op] for p in passes]) for op in ops}
    cpu = {op: median([p["op_cpu_s"][op] for p in passes]) for op in ops}
    samples = list(wall.values())
    pct = tail_percentile(len(samples))
    wall_s = sum(wall.values())
    in_rows = sum(tables[t]["rows"] for ins in res["op_inputs"].values() for t in ins)
    m = {
        "setup_s": (median(res["setup_s"]), "s"),
        "wall_s": (wall_s, "s"),
        "cpu_s": (sum(cpu.values()), "s"),
        "op_p50_s": (hd_quantile(samples, 0.5), "s"),
        "op_tail_s": (hd_quantile(samples, pct), "s"),
        "rows_per_s": (in_rows / wall_s, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    notes = {"op_n": len(samples), "op_tail_percentile": round(100 * pct, 1), "input_rows": in_rows,
             "setup_s": res["setup_s"], "setup_session_s": res["session_s"],
             "passes": len(passes), "ops_per_pass": len(ops),
             "op_median_wall_s": {op: round(w, 4) for op, w in wall.items()}}
    if etl_manifest:
        in_bytes = sum(etl_manifest["tables"][t]["bytes"] for ins in res["op_inputs"].values() for t in ins)
        notes["out_bytes_per_in_byte"] = median([p["sink_bytes"] for p in passes]) / in_bytes
    return m, notes


def per_layer(res, cores):
    """Per-workload layer metrics from the traced passes (median over
    them), plus the tracing overhead against the untraced passes."""
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    ops = res["per_op"]
    n_ops = len(res["ops"])
    by_pass = [ops[i * n_ops:(i + 1) * n_ops] for i in range(len(traced))]

    def agg(rows):
        def tot(k):
            return sum(r[k] for r in rows)

        def cnt(k, scale=1.0, among=rows):
            return sum(r["counters"].get(k, 0.0) for r in among) * scale

        def span(name):
            return sum(r["spans"].get(name, 0.0) for r in rows)
        etl_rows = [r for r in rows if r["layer"] != "entry"]
        batches = [b for r in rows for b in r["stream_batch_s"]]
        return {
            "entry.build_s": (span("entry.build"), "s"),
            "entry.exec_s": (span("entry.exec"), "s"),
            "operators.ckpt_blocks": (tot("ckpt_blocks"), "count"),
            "operators.ckpt_bytes": (tot("ckpt_bytes"), "bytes"),
            "spark.jobs": (cnt("jobs"), "count"),
            "spark.jobs_per_op": (cnt("jobs") / len(rows), "count"),
            "spark.stages": (cnt("stages"), "count"),
            "spark.tasks": (cnt("tasks"), "count"),
            "spark.records_read": (cnt("records_read"), "count"),
            "spark.core_util": (cnt("executor_run_ms", 1e-3) / (tot("wall_s") * cores), "ratio"),
            "spark.executor_run_s": (cnt("executor_run_ms", 1e-3), "s"),
            "spark.executor_cpu_s": (cnt("executor_cpu_ns", 1e-9), "s"),
            "jvm.gc_s": (tot("gc_s"), "s"),
            "jvm.jit_s": (tot("jit_s"), "s"),
            "spark.analysis_s": (cnt("phase_analysis", 1e-3) + span("entry.analysis"), "s"),
            "spark.optimize_s": (cnt("phase_optimization", 1e-3), "s"),
            "spark.plan_s": (cnt("phase_planning", 1e-3), "s"),
            "spark.shuffle_write_bytes": (cnt("shuffle_write_bytes"), "bytes"),
            "spark.shuffle_read_bytes": (cnt("shuffle_read_bytes"), "bytes"),
            "spark.spill_bytes": (cnt("spill_bytes"), "bytes"),
            "spark.peak_exec_mem_mb": (max(r["counters"].get("peak_exec_mem", 0.0) for r in rows) / 2**20, "MB"),
            "spark.task_skew": (max(r["counters"].get("task_skew", 0.0) for r in rows), "ratio"),
            "pipeline.parse_s": (span("pipeline.parse"), "s"),
            "pipeline.run_s": (span("pipeline.run"), "s"),
            "sources.read_s": (span("sources.read"), "s"),
            "sources.write_s": (span("sources.write"), "s"),
            "sources.bytes_read": (cnt("bytes_read", among=etl_rows), "bytes"),
            "sources.bytes_written": (tot("sink_bytes"), "bytes"),
            "sources.records_written": (cnt("records_written", among=etl_rows), "count"),
            "sources.files_written": (tot("sink_files"), "count"),
            "streaming.batches": (cnt("stream_batches"), "count"),
            "streaming.batch_p50_s": (median(batches), "s"),
            "streaming.rows_per_s": (cnt("stream_rows") / sum(batches) if batches else 0.0, "1/s"),
            "spark.failed_tasks": (cnt("failed_tasks"), "count"),
            "spark.scheduler_errors": (tot("scheduler_errors"), "count"),
            "log.errors": (tot("errors"), "count"),
        }
    per_pass = [agg(rows) for rows in by_pass]
    m = {k: (median([p[k][0] for p in per_pass]), u) for k, (_, u) in per_pass[0].items()}
    # passes run U T U T ... U: each traced pass against the mean of the
    # untraced passes on either side, which cancels a steady warm-up trend
    walls = [p["wall_s"] for p in res["passes"]]
    overhead = [walls[i] - (walls[i - 1] + walls[i + 1]) / 2 for i in range(1, len(walls) - 1, 2)]
    m["trace.untraced_wall_s"] = (median([p["wall_s"] for p in untraced]), "s")
    m["trace.traced_wall_s"] = (median([p["wall_s"] for p in traced]), "s")
    m["trace.overhead_s"] = (median(overhead), "s")
    return m


def run_jvm(args, jar, etl_dir, work, result, cores, extra=(), timeout=None):
    # an AppCDS archive of the classes a run loads halves JVM and Spark
    # start-up; the first run of a build writes it at exit
    jsa = jar[:-len(".jar")] + ".jsa"
    cds = ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa)
           else [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + cds + [
        # a fixed heap keeps peak RSS from following the GC's heap-sizing
        # decisions; it follows the heap and off-heap memory the run touches
        "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        f"-Dgraftbench.log={work}/spark.log",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", ":".join([jar] + build.spark_classpath()),
        "graftbench.GraftBench", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", DATA_DIR,
        "--etl", etl_dir, "--work", work, "--out", result, "--cores", str(cores), *extra]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # everything the JVM writes stays under the run's work directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    env["TMPDIR"] = f"{work}/tmp"
    env["MALLOC_ARENA_MAX"] = "2"
    try:
        with open(f"{work}/jvm.log", "w") as log:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=timeout or jvm_timeout(args.seconds), env=env, cwd=work)
    finally:
        os.makedirs(OUT_DIR, exist_ok=True)
        if os.path.exists(f"{work}/spark.log") and not extra:
            shutil.copy(f"{work}/spark.log", os.path.join(OUT_DIR, f"spark-{args.workload}-seed{args.seed}.log"))
    if proc.returncode != 0 or not os.path.exists(result):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-3000:])
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
    if os.path.exists(jsa + ".tmp"):
        os.rename(jsa + ".tmp", jsa)
    with open(result) as f:
        return json.load(f)


def cold_setups(args, jar, etl_dir, work, cores):
    """Set-up and session-build times of SETUPS - 1 fresh JVMs that stop
    after the set-up."""
    times, sessions = [], []
    for i in range(SETUPS - 1):
        d = os.path.join(work, f"setup{i}")
        os.makedirs(d)
        res = run_jvm(args, jar, etl_dir, d, os.path.join(d, "result.json"), cores,
                      extra=("--setup-only", "1"), timeout=SETUP_TIMEOUT_S)
        times.append(res["setup_s"])
        sessions.append(res["session_s"])
    return times, sessions


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    jar = build.build(ROOT, BUILD_DIR)
    tables = gen_data.table_manifest(DATA_DIR)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(RUN_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        etl_dir, etl_manifest = os.path.join(work, "etl_in"), None
        if args.workload == "etl_cli":
            etl_manifest = {"tables": gen_data.gen_etl(DATA_DIR, etl_dir, args.seed, 2 * cores, ETL_TABLES)}
        else:
            os.makedirs(etl_dir)
        result = os.path.join(work, "result.json")
        t0 = time.time()
        res = run_jvm(args, jar, etl_dir, work, result, cores)
        jvm_s = time.time() - t0
        t1 = time.time()
        more_setups, more_sessions = cold_setups(args, jar, etl_dir, work, cores)
        res["setup_s"] = [res["setup_s"]] + more_setups
        res["session_s"] = [res["session_s"]] + more_sessions
        t2 = time.time()
        shutil.copy(result, os.path.join(OUT_DIR, f"result-{args.workload}-seed{args.seed}.json"))
        data_key = json.dumps(tables, sort_keys=True)
        failures, warnings = check.run_checks(res["checks"], DATA_DIR, etl_dir,
                                              os.path.join(BUILD_DIR, "oracle_cache"), data_key)
        failures.update(res["check_failures"])
        phases = {"jvm_s": jvm_s, "cold_setups_s": t2 - t1, "duckdb_check_s": time.time() - t2}
        run_failures = [(op, cause) for p in res["passes"] for op, cause in p["failed"].items()]
        attempted = len(res["ops"]) * (1 + len(res["passes"]))
        failed = len(failures) + len(run_failures)
        e2e, notes = end_to_end(res, tables, etl_manifest)
        notes.update({"cores": cores, "load": "closed loop, 1 client thread",
                      "fail_frac": failed / attempted, **{k: round(v, 1) for k, v in phases.items()},
                      "check_pass_s": round(res["check_pass_s"], 1), "measured_s": round(res["measured_s"], 1),
                      "spark_errors": res["errors"], "scheduler_errors": res["scheduler_errors"]})
        if res["error_samples"]:
            notes["spark_error_samples"] = res["error_samples"][:3]
        if etl_manifest:
            notes["etl_input"] = etl_manifest["tables"]
        for op, cause in sorted(failures.items()):
            print(f"FAIL {op} (output check): {cause}")
        for op, cause in run_failures:
            print(f"FAIL {op} (measured run): {cause}")
        for op, warn in sorted(warnings.items()):
            print(f"WARN {op}: {warn}")
        if args.trace:
            metrics = per_layer(res, cores)
            trace_path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "ops": res["ops"],
                           "per_op": res["per_op"], "spans": res["spans"],
                           "per_layer": {k: v for k, (v, _) in metrics.items()}}, f)
            notes["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics = e2e
        print(f"# {args.workload} seed={args.seed} " + json.dumps(notes, sort_keys=True))
        for k, (v, unit) in metrics.items():
            print(f"{args.workload} {k} = {v:.6g} {unit}")
        print(f"{args.workload} fail_frac = {failed / attempted:.6g} ratio (n={attempted})")
        if etl_manifest:
            print(f"{args.workload} out_bytes_per_in_byte = {notes['out_bytes_per_in_byte']:.6g} ratio")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        sys.stderr.write(f"benchmark failed: {e}\n")
        sys.exit(2)
