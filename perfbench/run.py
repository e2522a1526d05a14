"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload spj_dialect --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

Run it from the repository root. The last line of standard output is
one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
ones with ``--trace 1``). The line before it is a JSON report with the
host, sample counts, the workload's own named metrics and the
failure fraction. See perfbench/README.md for why each workload and
metric is there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.getcwd()
SETUP_REPS = 3
SIZES = {
    "bench": {"scale": 0.01, "docs": 600, "rows": 20_000, "items": 200,
              "copies": 10},
    "tiny": {"scale": 0.001, "docs": 120, "rows": 2_000, "items": 20,
             "copies": 2},
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def session(run_dir: str, trace: bool):
    """A session sized from the host: local[cores], driver heap a
    quarter of memory capped at 4 GiB, all scratch under ``run_dir``."""
    from kaj_query_engine_spark.session import get_spark

    from perfbench.trace import host_cores, host_mem_bytes

    cores = host_cores()
    heap_gb = max(1, min(4, host_mem_bytes() // (4 << 30)))
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        # The heap is committed at its ceiling but not touched, and the
        # young generation has a fixed size, so G1 never resizes either
        # on GC timing. Resident heap is then the young generation plus
        # the most old-generation regions in use at once: peak_rss_mb
        # follows what the program allocates and retains, and repeats.
        "spark.driver.extraJavaOptions": f"-Xms{heap_gb}g -Xmn512m",
        "spark.local.dir": f"{run_dir}/local",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": f"{run_dir}/events",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait until the JVM and every process
    started under this one (the Python worker daemon included, which
    outlives its parent JVM by a moment) has ended."""
    from pyspark import SparkContext

    from perfbench.trace import alive, descendants

    pids = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while alive(pids):
        if time.time() > deadline:
            for pid in alive(pids):
                os.kill(pid, signal.SIGKILL)
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


def closed_loop(wl, rng, seconds: float, tracer, prefix: str) -> tuple[list, int, float]:
    """Run the workload's warm-up operations, then operations back to
    back for ``seconds``, at least ``min_ops`` of them and whole cycles
    of the workload's operation mix. Returns (records, failed, wall s)."""
    for i in range(wl.warm_ops):
        with tracer.op(f"{prefix}{i}", "warmup"):
            wl.op(i, rng)
    recs, failed, n = [], 0, 0
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or n < wl.min_ops or n % wl.cycle:
        i = wl.warm_ops + n
        try:
            with tracer.op(f"{prefix}{i}", wl.unit):
                recs.append(wl.op(i, rng))
        except Exception as exc:  # an operation error counts as a failure
            print(f"perfbench: op {i} failed: {exc!r}", file=sys.stderr)
            failed += 1
            if failed > 3 and not recs:
                raise
        n += 1
    return recs, failed, time.perf_counter() - start


def fresh_loop(wl, spark, run_dir, tracer, rng, seconds):
    """Re-bind ``wl`` to a new session (writing the event log when
    ``tracer`` is enabled) and run the closed loop there."""
    spark.stop()
    spark = session(run_dir, tracer.enabled)
    tracer.bind(spark)
    wl.tracer = tracer
    wl.attach(spark)
    recs, failed, _ = closed_loop(wl, rng, seconds, tracer, "t")
    return spark, recs, failed


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    import numpy as np
    import pyspark

    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, _pct, tail

    run_dir = os.path.join(ROOT, ".bench_run", f"{workload}-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM (spark-submit's launcher included) and every Python
    # process keeps its temporary files inside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    cls = WORKLOADS[workload]
    spans = tr.Tracer(False)
    cpu0 = tr.cpu_times()
    setup_s, wl, spark = [], None, None
    try:
        with tr.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = session(run_dir, False)
            session_s = time.perf_counter() - t0
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                rep_dir = os.path.join(run_dir, f"rep{rep}")
                os.makedirs(os.path.join(rep_dir, "data"))
                wl = cls(SIZES[size], spans)
                wl.generate(np.random.default_rng([seed, 0]), f"{rep_dir}/data")
                wl.setup(spark, rep_dir)
                setup_s.append(time.perf_counter() - t0)
                if rep:
                    shutil.rmtree(os.path.join(run_dir, f"rep{rep - 1}"))
            jdk = spark._jvm.System.getProperty("java.version")
            ops_rng = np.random.default_rng([seed, 2])
            recs, failed, loop_s = closed_loop(wl, ops_rng, seconds, spans, "u")
            if trace:
                # a traced loop in a session that writes the event log,
                # then an untraced loop in a fresh session of the same
                # JVM: the latency ratio of the two is the overhead
                spans = tr.Tracer(True)
                spark, t_recs, t_failed = fresh_loop(wl, spark, run_dir, spans, ops_rng, seconds)
                spark, p_recs, p_failed = fresh_loop(
                    wl, spark, run_dir, tr.Tracer(False), ops_rng, seconds)
                failed += t_failed + p_failed
            n_checked, n_bad = wl.check()
            spark.stop()
            spark = None
            shutdown_jvm()
        cpu1 = tr.cpu_times()
        host = {
            "cores": tr.host_cores(),
            "mem_bytes": tr.host_mem_bytes(),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "jdk": jdk,
            "steal_pct": tr.steal_pct(cpu0, cpu1),
        }
        lat = [r["latency"] for r in recs]
        attempted = n_checked + failed
        bad = failed + n_bad
        e2e = {
            "setup_s": (session_s + statistics.median(setup_s), "s"),
            "op_p50_s": (_pct(lat, 50), "s"),
            "ops_per_s": (len(lat) / sum(lat), "1/s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
        report = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "host": host,
            "samples": {"ops": len(lat), "setup_reps": len(setup_s),
                        "checked": n_checked},
            "op_tail": tail(lat),
            "failed_frac": bad / attempted,
            "session_start_s": session_s,
            "setup_reps_s": setup_s,
            "loop_s": loop_s,
            "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u)
                                 in wl.details(recs, e2e).items()},
        }
        if trace:
            metrics, extra = layer_metrics(wl, spans, run_dir, t_recs, p_recs)
            report["trace"] = extra
            spans.dump(os.path.join(ROOT, ".bench_run", f"spans-{workload}-{seed}.json"))
        else:
            metrics = e2e
        print(json.dumps(report))
        return {
            "correct": bad == 0,
            "attempted": attempted,
            "failed": bad,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


SPAN_METRICS = {
    "dialect.parse_s": "dialect.parse",
    "dialect.lower_s": "dialect.lower",
    "spark.action_s": "spark.action",
    "pipeline.build_s": "pipeline.build",
    "versioned.read_buckets_s": "versioned.read_buckets",
    "maintenance.merge_upsert_s": "maintenance.merge_upsert",
    "versioned.commit_keyed_s": "versioned.commit_keyed",
    "versioned.read_s": "versioned.read",
    "versioned.read_changes_s": "versioned.read_changes",
    "multimodal.decode_s.png": "multimodal.decode.png",
    "multimodal.decode_s.jpeg": "multimodal.decode.jpeg",
    "multimodal.decode_s.gif": "multimodal.decode.gif",
    "multimodal.decode_s.flac": "multimodal.decode.flac",
}
# every per-layer metric and its unit; a layer a workload does not use
# reads 0
PER_LAYER = {
    **dict.fromkeys(SPAN_METRICS, "s"),
    "catalog.load_fixtures_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_delay_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.cpu_busy_frac": "frac",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.files_read": "count",
    "spark.jobs_by_time": "count",
    "spark.jobs_unattributed": "count",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    **{f"pipeline.funnel.{k}": "count" for k in
       ("quality_gate", "exact_dedup", "near_dedup", "decontaminated",
        "packed_chunks")},
    "versioned.files_live": "count",
    "versioned.files_rewritten_frac": "frac",
    "trace.overhead_frac": "frac",
}


def layer_metrics(wl, spans, run_dir, t_recs, p_recs):
    """Per-operation layer figures of the traced loop."""
    import glob

    from perfbench import trace as tr
    from perfbench.workloads import _pct

    logs = sorted(glob.glob(os.path.join(run_dir, "events", "*")))
    by_op, how = tr.attribute_event_log(logs[-1], spans.ops)
    # warm-up operations keep their jobs out of the unattributed count
    # but stay out of the per-operation figures
    measured = {o["op"] for o in spans.ops if o["kind"] != "warmup"}
    ops = [v for k, v in by_op.items() if k in measured]
    out = dict.fromkeys(PER_LAYER, 0.0)
    for name, span in SPAN_METRICS.items():
        per = [v for k, v in spans.per_op(span).items() if k in measured]
        if per:
            out[name] = statistics.median(per)
    load = [s["end"] - s["start"] for s in spans.spans
            if s["name"] == "catalog.load_fixtures"]
    if load:
        out["catalog.load_fixtures_s"] = statistics.median(load)
    for key in tr.SPARK_COUNTERS:
        out[key] = sum(o[key] for o in ops) / max(1, len(ops))
    run_s = sum(o["spark.executor_run_s"] for o in ops)
    if run_s:
        out["spark.cpu_busy_frac"] = sum(o["spark.executor_cpu_s"] for o in ops) / run_s
    out["spark.jobs_by_time"] = float(how["by_time"])
    out["spark.jobs_unattributed"] = float(how["unattributed"])
    out.update(wl.layer_extra(t_recs))
    traced_p50 = _pct([r["latency"] for r in t_recs], 50)
    out["trace.overhead_frac"] = traced_p50 / _pct([r["latency"] for r in p_recs], 50) - 1.0
    metrics = {k: (float(v), PER_LAYER[k]) for k, v in out.items()}
    extra = {"jobs": how, "traced_ops": len(t_recs),
             "self_s": spans.self_summary()}
    return metrics, extra


def smoke() -> int:
    """Every workload at tiny scale, both modes; every BENCHMARK.json
    metric must be printed with its declared unit."""
    import subprocess

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            last = (proc.stdout.strip().splitlines() or [""])[-1]
            try:
                res = json.loads(last)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                ok = proc.returncode == 0 and got == want[trace] and res["correct"]
            except (ValueError, KeyError, TypeError):
                ok = False
            print(f"smoke {w['name']} trace={trace}: {'ok' if ok else 'FAIL'}")
            if not ok:
                print(proc.stderr[-3000:], last, file=sys.stderr)
            bad += not ok
    return 1 if bad else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "kaj_query_engine_spark")):
        fail("run from the repository root: kaj_query_engine_spark/ not found")
    sys.path.insert(0, ROOT)
    if args.smoke:
        sys.exit(smoke())
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
