"""Benchmark entry point.

    python3 perfbench/run.py --workload <fits_load|sql_analytics|llm_pipeline>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-check

Run from the root of a checkout.  One run is one process: set-up (session,
warm cache, untimed warm-up), a timed window of whole passes until
``--seconds`` have elapsed, then an untimed correctness check.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  A traced run measures an untraced
window and then a traced one of the same length; their difference is the
tracing overhead.  Spans go to ``.perfbench-work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
    "stored_bytes_per_input_byte": "B/B",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "op.build_s": "s",
    "op.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.overhead_pct": "%",
    "peak_rss_mb": "MiB",
}
# Spans every traced run of a workload must contain (the self-check asserts it).
LAYER_SPANS = {
    "fits_load": (
        "setup", "session.start", "warmup", "load", "cli.load_frame", "cli.emit_ddl",
        "sinks.csv_sink.write_csv", "sinks.jdbc.write_jdbc", "verify",
        "sources.fits.decode", "sources.fits.read",
    ),
    "sql_analytics": (
        "setup", "session.start", "tables.warm_cache", "warmup", "pass", "op", "build", "exec",
        "verify",
    ),
    "llm_pipeline": ("setup", "session.start", "warmup", "pass", "op", "build", "exec", "verify"),
}


def _isolate_work_files() -> None:
    """Keep everything Spark, the JVM, Derby and Python write inside the
    checkout: local block dirs, temp files, the Derby log."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [
            os.environ.get("JAVA_TOOL_OPTIONS", ""),
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}",
            "-XX:-UsePerfData",
        ]
    ).strip()
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _window(wl, ctx, seconds: float):
    """Whole passes until ``seconds`` of timed wall time have elapsed."""
    ops, wall = [], 0.0
    while wall < seconds:
        wl.before_pass(ctx)
        t0 = time.perf_counter()
        ops += wl.timed_pass(ctx)
        wall += time.perf_counter() - t0
        wl.after_pass(ctx)
    return ops, wall


def run(args) -> int:
    _isolate_work_files()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import fits2db_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import measure
    import workloads

    wl = workloads.make(args.workload, args.seed, args.quick)
    prep_t0 = time.perf_counter()
    try:
        wl.prepare(WORK)
    except FileNotFoundError as e:
        print(f"perfbench: missing input: {e}", file=sys.stderr)
        return 2
    prep_s = time.perf_counter() - prep_t0

    traced = bool(args.trace)
    tracer = measure.Tracer(traced)
    from fits2db_spark import session

    with measure.RssSampler() as sampler:
        with tracer.span("setup"):
            with tracer.span("session.start"):
                spark = session.get_spark()
            ctx = workloads.Ctx(spark, tracer, None, random.Random(args.seed))
            wl.setup(ctx)
            with tracer.span("warmup"):
                wl.warmup(ctx)
        setup_s = time.perf_counter() - T_START - prep_s

        ctx.phase = "timed"
        ops, wall = _window(wl, ctx, args.seconds)
        traced_ops = []
        if traced:
            # the same window again, with spans and job counts on
            ctx.jobs = measure.JobCounter(spark)
            ctx.phase = "traced"
            traced_ops, traced_wall = _window(wl, ctx, args.seconds)
            overhead_pct = 100.0 * ((traced_wall / len(traced_ops)) / (wall / len(ops)) - 1.0)

    probes = wl.layer_probes(spark, tracer) if traced else {}
    try:
        bad = wl.check(ctx)
    except Exception:
        import traceback

        traceback.print_exc()
        bad = set(wl.keys)
    stored = wl.stored_bytes_per_input_byte()
    _stop(spark)
    for sub in (args.workload, "tmp"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)

    all_ops = ops + traced_ops
    failed = sum(1 for o in all_ops if o.failed or o.key in bad)
    attempted = len(all_ops)
    by_type: dict[str, list[float]] = {}
    for o in ops:
        by_type.setdefault(o.key, []).append(o.latency_s)
    n_type = min(len(v) for v in by_type.values())
    p_tail, beyond = measure.tail_percentile(n_type)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / wall,
        "op_p50_s": measure.per_type(by_type, 50.0),
        "op_tail_s": measure.per_type(by_type, p_tail),
        "rows_per_s": sum(o.input_rows for o in ops if not o.failed) / wall,
        "stored_bytes_per_input_byte": stored,
    }
    peak_rss_mb = sampler.peak / 2**20
    print(
        f"{args.workload}: {len(ops)} ops of {len(by_type)} types in {wall:.2f} s timed; "
        f"op_tail_s is p{p_tail:g} ({beyond} of {n_type} samples per type beyond it); "
        f"fail_ratio={failed / attempted:.4f} ({failed}/{attempted}); "
        f"peak_rss_mb={peak_rss_mb:.1f} MiB"
    )
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {END_TO_END[k]}")
    print("  ops: " + " ".join(f"{o.key}={o.latency_s:.3f}" for o in ops))

    metrics = e2e
    if traced:
        spans = tracer.finish()
        report = layer_report(args.workload, spans, traced_ops, overhead_pct)
        report["peak_rss_mb"] = peak_rss_mb
        report.update(probes)
        os.makedirs(WORK, exist_ok=True)
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": report,
                       "spans": spans}, f)
        print(f"trace: {len(spans)} spans written to {os.path.relpath(path, ROOT)}")
        for k, v in report.items():
            print(f"  {k} = {v:.6g}")
        metrics = {k: report[k] for k in PER_LAYER}
        units = PER_LAYER
    else:
        units = END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def layer_report(workload: str, spans: list[dict], ops, overhead_pct: float) -> dict[str, float]:
    """Per-layer figures of a traced run, from its spans and job counts."""
    import measure

    by_id = {s["id"]: s for s in spans}

    def total(name):
        return sum(s["dur_s"] for s in spans if s["name"] == name)

    def timed(name):
        """Self times of ``name`` spans inside the traced window."""
        out = []
        for s in spans:
            if s["name"] != name:
                continue
            root = s
            while root["parent"] is not None:
                root = by_id[root["parent"]]
            if root.get("phase") == "traced":
                out.append(s["self_s"])
        return out

    n = len(ops)

    def typed(attr):
        samples: dict[str, list[float]] = {}
        for o in ops:
            samples.setdefault(o.key, []).append(getattr(o, attr))
        return measure.per_type(samples, 50.0)

    rep = {
        "session.start_s": total("session.start"),
        "setup.warmup_s": total("warmup"),
        "op.build_s": typed("build_s"),
        "op.exec_s": typed("exec_s"),
        "spark.jobs_per_op": sum(o.counts["jobs"] for o in ops) / n,
        "spark.stages_per_op": sum(o.counts["stages"] for o in ops) / n,
        "spark.tasks_per_op": sum(o.counts["tasks"] for o in ops) / n,
        "trace.overhead_pct": overhead_pct,
        "verify_s": total("verify"),
    }
    if workload == "fits_load":
        jdbc = measure.median(timed("sinks.jdbc.write_jdbc"))
        rep.update({
            "cli.load_frame_s": measure.median(timed("cli.load_frame")),
            "cli.emit_ddl_s": measure.median(timed("cli.emit_ddl")),
            "sinks.csv_sink.write_s": measure.median(timed("sinks.csv_sink.write_csv")),
            "sinks.jdbc.write_s": jdbc,
            "sinks.jdbc.rows_per_s": ops[0].input_rows / jdbc,
        })
        return rep
    if workload == "sql_analytics":
        rep["tables.warm_cache_s"] = total("tables.warm_cache")
    rep["operators.build_s"] = rep["op.build_s"]
    rep["operators.exec_s"] = rep["op.exec_s"]
    modules = sorted({s["module"] for s in spans if s["name"] == "op"})
    for m in modules:
        for part in ("build", "exec"):
            vals = [
                s["self_s"]
                for s in spans
                if s["name"] == part and by_id[s["parent"]]["module"] == m
                and by_id[s["parent"]]["phase"] == "traced"
            ]
            rep[f"operators.{m}.{part}_s"] = measure.median(vals)
    return rep


def _check_output(workload: str, trace: int, proc) -> list[str]:
    if proc.returncode != 0:
        return [f"exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    want = PER_LAYER if trace else END_TO_END
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        problems.append(f"metrics {got} != {want}")
    if out["failed"] or not out["correct"] or out["attempted"] < 1:
        problems.append(f"{out['failed']}/{out['attempted']} failed")
    if trace:
        with open(os.path.join(WORK, f"trace-{workload}-1.json")) as f:
            names = {s["name"] for s in json.load(f)["spans"]}
        missing = set(LAYER_SPANS[workload]) - names
        if missing:
            problems.append(f"trace lacks spans {sorted(missing)}")
    return problems


def self_check() -> int:
    """Run every workload briefly on the smallest inputs, traced and not,
    and assert the output contract: every metric with its unit, no failed
    operation, and a trace that covers every named layer span."""
    problems = []
    for workload in LAYER_SPANS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--quick"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{workload} --trace {trace}"
            found = _check_output(workload, trace, proc)
            problems += [f"{tag}: {p}" for p in found]
            print(f"self-check {tag}: {'FAILED' if found else 'ok'}", flush=True)
    for p in problems:
        print(f"self-check FAILED {p}")
    return 1 if problems else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=tuple(LAYER_SPANS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--quick", action="store_true", help="smallest inputs (self-check)")
    p.add_argument("--self-check", action="store_true")
    args = p.parse_args()
    if args.self_check:
        return self_check()
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
