"""Benchmark entry point.

    python3 perfbench/run.py --workload energy_pipeline --seed 1 --seconds 20 --trace 0

Generates the input tables from ``--seed``, starts one Spark session at
``local[nproc]`` and computes the DuckDB oracle results. A cold workload
then times the first pass of the fresh session; a warm one runs an
untimed warm-up pass and then timed passes until ``--seconds`` have
elapsed (a closed loop with one client). Every output of every pass is
checked. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics, including the tracing overhead. The last stdout line
is the result object; the line before it holds diagnostics.

Run from the root of a checkout of the repository; everything the run
writes goes under ``.bench_work/`` there.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# Scale factor of the generated inputs (lineitem = 6e6 * SCALE rows).
SCALE = 0.01


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> int:
    """Pin the session to every core this process may use, and make the
    program importable by Spark's Python workers, whatever the caller's
    working directory."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise map a counters file in
    # /tmp/hsperfdata_<user>, outside the checkout.
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    sys.path.insert(0, ROOT)
    return cpus


def host_probe(spark) -> dict:
    """bench.py's fixed-work host probe, recorded as a diagnostic only."""
    import hashlib

    t0 = time.perf_counter()
    h = hashlib.md5()
    chunk = b"x" * (1 << 20)
    for _ in range(512):
        h.update(chunk)
    md5_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 1 << 28, 1, 32).selectExpr("sum(id * 3 + 1)").collect()
    return {"md5_512mb_sec": md5_s, "range_268m_x32_sec": time.perf_counter() - t0}


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for both to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        proc.wait(timeout=60)


def wait_ended(pids, timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; SIGKILL what is
    left after ``timeout``. Pids are polled through /proc, because a
    Python worker whose JVM parent exited is no longer our descendant."""
    import signal

    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass  # reap our own exited children
        except ChildProcessError:
            pass
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def layer_metrics(rec, wl, pass_id, t0, t1, out_dir, cores) -> dict:
    """Per-layer metrics of one traced pass."""
    from pyprima_spark import pipeline
    from tracing import covered
    from workloads import data_files

    ops = rec.pass_ops(pass_id)
    tot = {}
    for op in ops:
        for k, v in op.spark.items():
            if k != "intervals":
                tot[k] = tot.get(k, 0) + v
    intervals = [iv for op in ops for iv in op.spark.get("intervals", ())]
    busy_wall = covered(intervals, t0, t1)
    n_ops = max(1, len(ops))
    n_builds = max(1, rec.span_count("plans.", pass_id))
    task_s = tot.get("task_ms", 0) / 1000
    files = data_files(out_dir)
    m = {
        "catalog.load_calls": rec.span_count("catalog.", pass_id),
        "catalog.load_s": rec.layer_time("catalog.", pass_id),
        "plans.build_s": rec.layer_time("plans.", pass_id) / n_builds,
        "plans.jobs": tot.get("jobs", 0) / n_ops,
        "plans.stages": tot.get("stages", 0) / n_ops,
        "plans.driver_gap_s": sum(op.wall - op.spark["covered_s"] for op in ops) / n_ops,
        "operators.task_s": task_s,
        "operators.cpu_s": tot.get("cpu_ns", 0) / 1e9,
        "operators.gc_s": tot.get("gc_ms", 0) / 1000,
        "operators.tasks": tot.get("tasks", 0),
        "operators.failed_tasks": tot.get("failed_tasks", 0),
        "operators.busy_frac": task_s / (busy_wall * cores) if busy_wall else 0.0,
        "operators.shuffle_write_mb": tot.get("shuffle_write", 0) / 1e6,
        "operators.shuffle_read_mb": tot.get("shuffle_read", 0) / 1e6,
        "operators.spill_mb": tot.get("spill", 0) / 1e6,
        "operators.checkpoint_mb": rec.checkpoint_mb(),
        "sources.scan_mb": tot.get("input", 0) / 1e6,
        "sources.write_s": rec.layer_time("sources.", pass_id),
        "sources.output_mb": sum(os.path.getsize(f) for f in files) / 1e6,
        "sources.files": len(files),
    }
    stage_s = dict.fromkeys(("cleaning", "intermediate", "model", "csv"), 0.0)
    if wl.name == "energy_pipeline":
        # Operation i of a pass is stage output i, in run_pipeline's
        # order; the one after the last stage is the CSV export.
        groups = [
            *["cleaning"] * len(pipeline.CLEANING),
            *["intermediate"] * len(pipeline.INTERMEDIATE),
            *["model"] * len(pipeline.MODEL),
            "csv",
        ]
        for g, op in zip(groups, ops):
            stage_s[g] += op.wall
    for g, v in stage_s.items():
        m[f"pipeline.{g}_s"] = v
    m["pipeline.curation_s"] = rec.layer_time("pipeline.run_curation", pass_id)
    m["pipeline.tfrecord_s"] = rec.layer_time("pipeline.export_curated", pass_id)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pyprima_spark", "__init__.py")):
        print(f"perfbench: no pyprima_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str) -> int:
    cores = prepare_env(run_dir)

    import datagen
    import proctree
    import stats
    import workloads
    from tracing import Recorder

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    from pyprima_spark.session import build_session

    # Input generation and oracle results are the benchmark's own work,
    # which a deployment does not do: setup_s leaves them out.
    t = time.perf_counter()
    data_dir = os.path.join(run_dir, "data")
    rows = datagen.write_tables(data_dir, args.seed, SCALE)
    wl_cls = workloads.WORKLOADS[args.workload]
    oracles = wl_cls.compute_oracles(data_dir)
    harness_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = build_session("perfbench")
    session_s = time.perf_counter() - t
    rec = Recorder(spark)
    try:
        rec.install(spans=bool(args.trace))
        wl = wl_cls(spark, data_dir, rec, oracles)
        attempted = failed = 0
        failures: list[str] = []

        def run_one(pass_id: str, traced: bool) -> dict:
            nonlocal attempted, failed
            rec.pass_id = pass_id
            rec.traced = traced
            out_dir = os.path.join(run_dir, "out", pass_id)
            cpu0 = proctree.cpu_seconds(os.getpid())
            t0w, t0 = time.time(), time.perf_counter()
            try:
                result = wl.run_pass(out_dir)
            except Exception as exc:  # the checks below count what is missing
                result = None
                failures.append(f"{pass_id}: {exc!r}"[:300])
            wall = time.perf_counter() - t0
            t1w = time.time()
            cpu = proctree.cpu_seconds(os.getpid()) - cpu0
            rec.traced = False
            for name, err in wl.check(out_dir, result):
                attempted += 1
                if err is not None:
                    failed += 1
                    failures.append(f"{pass_id} {name}: {err}"[:300])
            out = {
                "wall": wall,
                "cpu": cpu,
                "bytes": wl.output_bytes(out_dir, result),
                "ops": [op.wall for op in rec.pass_ops(pass_id)],
            }
            if traced:
                rec.collect_spark(pass_id)
                out["layers"] = layer_metrics(rec, wl, pass_id, t0w, t1w, out_dir, cores)
            shutil.rmtree(out_dir, ignore_errors=True)
            return out

        # A cold workload's job is the first pass of a fresh process, as
        # a batch user runs it; a warm one is timed after a warm-up pass.
        warmup_s = 0.0
        if not wl.cold:
            t = time.perf_counter()
            run_one("warmup", False)
            warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START - harness_s

        timed = []
        steal0 = proctree.cpu_steal()
        t_loop = time.perf_counter()
        while True:
            timed.append(run_one(f"pass{len(timed)}", bool(args.trace)))
            if wl.cold:
                break
            elapsed = time.perf_counter() - t_loop
            # Past the minimum, start a pass only if it should end
            # within --seconds.
            if len(timed) >= wl.min_passes and elapsed + timed[-1]["wall"] > args.seconds:
                break
        steal = proctree.cpu_steal(since=steal0)
        overhead = None
        if args.trace:
            # Tracing overhead from warm passes in the order untraced,
            # traced, traced, untraced, which cancels a steady drift. The
            # timed passes before them have warmed the session.
            walls = {False: [], True: []}
            for i, tr in enumerate((False, True, True, False)):
                walls[tr].append(run_one(f"overhead{i}", tr)["wall"])
            overhead = stats.median(walls[True]) - stats.median(walls[False])
        peak_rss = proctree.peak_rss_mb(os.getpid())
        probe = host_probe(spark)

        op_lat = [w for p in timed for w in p["ops"]]
        q_tail, p_tail = stats.tail_percentile(op_lat)
        job_s = stats.median([p["wall"] for p in timed])
        trace_path = None
        if args.trace:
            metrics = {
                k: stats.median([p["layers"][k] for p in timed])
                for k in timed[0]["layers"]
            }
            metrics["session.build_s"] = session_s
            metrics["process.peak_rss_mb"] = peak_rss
            metrics["trace.job_s"] = job_s
            metrics["trace.overhead_s"] = overhead
            units = stats.PER_LAYER
            trace_path = os.path.join(
                WORK, "traces", f"{wl.name}-seed{args.seed}-{os.getpid()}.json"
            )
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            with open(trace_path, "w") as fh:
                json.dump(rec.dump(), fh)
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "query_p50_s": stats.median(op_lat),
                "query_p90_s": p_tail,
                "ok_frac": 1 - failed / max(1, attempted),
                "cpu_s": stats.median([p["cpu"] for p in timed]),
                "output_mb": stats.median([p["bytes"] for p in timed]) / 1e6,
            }
            units = stats.END_TO_END
        diagnostics = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "scale": SCALE,
            "rows": rows,
            "cores": cores,
            "cold_job": wl.cold,
            "job_s": job_s,
            "pass_s": [p["wall"] for p in timed],
            "query_samples": len(op_lat),
            "query_tail_percentile": q_tail,
            "failed_frac": failed / max(1, attempted),
            "failures": failures[:20],
            "setup": {
                "session_s": session_s,
                "warmup_s": warmup_s,
                "excluded_inputs_and_oracles_s": harness_s,
            },
            "host_probe": probe,
            "cpu_steal_frac": steal,
            "peak_rss_mb": peak_rss,
            "trace_file": trace_path,
        }
        print(json.dumps({"diagnostics": diagnostics}))
        line = stats.result_line(metrics, units, attempted, failed)
    finally:
        rec.close()
        started = set(proctree.descendants(os.getpid())) - {os.getpid()}
        stop_spark(spark)
        wait_ended(started | set(proctree.descendants(os.getpid())) - {os.getpid()})
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
