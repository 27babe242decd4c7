"""Closed-loop benchmark of the bonobo-sqlalchemy-spark engine.

    python3 perfbench/run.py --workload etl-upsert --seed 7 --seconds 15 --trace 0

Run from the root of a checkout. One driver process on ``local[<cores>]``
generates the workload's inputs from ``--seed``, sets up a session, runs
the cold operation, then repeats warm operations for ``--seconds``, checks
every output, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, read from spans the benchmark records around its calls into
the engine, joined with Spark job/stage counters and /proc CPU readings.

Everything the run writes lives under ``.perfbench/`` in the checkout: a
private TMPDIR, Spark local dir and warehouse per run (deleted at exit) and
the run report with its spans under ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
MIN_WARM = 4


def isolate(run_dir: Path) -> None:
    """Point every temp/scratch location of this process, its JVM and its
    Python workers at ``run_dir``. ``cache.artifact_path`` keys off
    ``tempfile.gettempdir()``, so artifacts cannot leak between runs; the
    workers get the checkout on PYTHONPATH so engine UDFs import."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_JDBC_JAR"] = ""  # no classpath scan outside the checkout
    import tempfile

    tempfile.tempdir = None
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(wl, run_dir: Path):
    """The measured set-up after imports: session, then inputs registered."""
    from bonobo_sqlalchemy_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        extra_conf={
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            # keep every job of a run for the trace join
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
    )
    t1 = time.perf_counter()
    wl.register(spark, str(run_dir))
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_session(spark, tree) -> None:
    """Stop Spark, end the JVM and wait until it and the PySpark daemon
    have exited."""
    from pyspark import SparkContext

    pids = [p for ps in tree.roles().values() for p in ps]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)


class CacheCounter:
    """Counts ``cache.ensure_artifact`` calls and the builds behind them by
    wrapping the function wherever the engine bound it (traced runs)."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.calls: list[tuple[int | None, bool, float]] = []

    def install(self) -> None:
        from bonobo_sqlalchemy_spark import cache

        original = cache.ensure_artifact

        def ensure_artifact(path, build):
            built = []

            def timed_build(tmp):
                t = time.perf_counter()
                try:
                    build(tmp)
                finally:
                    built.append(time.perf_counter() - t)

            with self.tracer.span("cache.ensure_artifact") as span:
                out = original(path, timed_build)
            self.calls.append((span.op, bool(built), sum(built)))
            return out

        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("bonobo_sqlalchemy_spark")
                and getattr(mod, "ensure_artifact", None) is original
            ):
                mod.ensure_artifact = ensure_artifact


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(wl, ops, maint, tracer, jobs, cache, extra, cores) -> dict:
    """Per-layer metrics, averaged per traced warm operation."""
    from perfbench import probe, workloads

    by_span = defaultdict(list)
    for j in jobs:
        if j.group and j.group.startswith("perfbench-"):
            by_span[int(j.group.split("-", 1)[1])].append(j)
    spans_by_op = defaultdict(list)
    for s in tracer.spans:
        spans_by_op[s.op].append(s)

    def span_jobs(s) -> list:
        """Jobs fired under ``s`` or any span nested in it."""
        out = list(by_span[s.id])
        for c in spans_by_op[s.op]:
            if c.parent == s.id:
                out.extend(span_jobs(c))
        return out

    def agg(op_spans, prefix):
        sel = [s for s in op_spans if s.name.startswith(prefix)]
        js = [j for s in sel for j in span_jobs(s)]
        c = probe.StageCounters()
        for j in js:
            c.add(j.counters)
        wall = sum(s.end - s.start for s in sel)
        busy = sum(probe.union_s([(j.start, j.end) for j in span_jobs(s)], s.start, s.end) for s in sel)
        return dict(s=wall, self_s=wall - busy, jobs=len(js), stages=sum(j.stages for j in js), c=c)

    warm = [o for o in ops[1:] if o.traced]
    m: dict[str, tuple[float, str]] = {}

    def put(name, values, unit):
        m[name] = (mean(values), unit)

    per_op = []
    for o in warm:
        sp = spans_by_op[o.index]
        root = next(s for s in sp if s.name == "op")
        js = span_jobs(root)
        c = probe.StageCounters()
        for j in js:
            c.add(j.counters)
        busy = probe.union_s([(j.start, j.end) for j in js], root.start, root.end)
        per_op.append(dict(o=o, sp=sp, c=c, busy=busy, build=agg(sp, "build:"),
                           action=agg(sp, "action:"), sink=agg(sp, "sink:")))
    for kind in ("build", "action"):
        put(f"{kind}.s", [p[kind]["s"] for p in per_op], "s")
        put(f"{kind}.self_s", [p[kind]["self_s"] for p in per_op], "s")
        put(f"{kind}.jobs", [p[kind]["jobs"] for p in per_op], "count")
        put(f"{kind}.stages", [p[kind]["stages"] for p in per_op], "count")
        put(f"{kind}.tasks", [p[kind]["c"].tasks for p in per_op], "count")
    put("action.result_rows", [sum(len(r[1]) for r in p["o"].results.values()
                                   if isinstance(r, tuple)) for p in per_op], "rows")
    for q in workloads.ML_QUERIES:
        put(f"build.s.{q}", [agg(p["sp"], f"build:{q}")["s"] for p in per_op], "s")
        put(f"build.jobs.{q}", [agg(p["sp"], f"build:{q}")["jobs"] for p in per_op], "count")
        put(f"action.s.{q}", [agg(p["sp"], f"action:{q}")["s"] for p in per_op], "s")
    put("driver.jobs_busy_s", [p["busy"] for p in per_op], "s")
    put("driver.idle_s", [p["o"].wall_s - p["busy"] for p in per_op], "s")
    put("shuffle.write_bytes", [p["c"].shuffle_write for p in per_op], "bytes")
    put("shuffle.read_bytes", [p["c"].shuffle_read for p in per_op], "bytes")
    put("spill.bytes", [p["c"].spill for p in per_op], "bytes")
    put("scan.input_bytes", [p["c"].input_bytes for p in per_op], "bytes")
    put("scan.input_records", [p["c"].input_records for p in per_op], "rows")
    put("tasks.run_s", [p["c"].run_s for p in per_op], "s")
    put("tasks.cpu_s", [p["c"].cpu_s for p in per_op], "s")
    put("tasks.gc_s", [p["c"].gc_s for p in per_op], "s")
    put("cores.busy_frac", [p["c"].run_s / (p["o"].wall_s * cores) for p in per_op], "frac")
    for role in ("driver_py", "jvm", "pyworker"):
        put(f"cpu.{role}_s", [p["o"].cpu_s[role] for p in per_op], "s")
    warm_ids = {o.index for o in warm}
    put("cache.calls", [sum(1 for c in cache.calls if c[0] == i) for i in warm_ids], "count")
    put("cache.builds", [sum(c[1] for c in cache.calls if c[0] == i) for i in warm_ids], "count")
    put("cache.build_s", [sum(c[2] for c in cache.calls if c[0] == i) for i in warm_ids], "s")
    m["cache.builds_cold"] = (float(sum(c[1] for c in cache.calls if c[0] == 0)), "count")
    last = extra[max(extra)]
    m["storage.persisted_rdds"] = (float(last["storage"][0]), "count")
    m["storage.persisted_growth"] = (float(last["storage"][0] - extra[0]["storage"][0]), "count")
    m["storage.mem_bytes"] = (float(last["storage"][1]), "bytes")
    for name in workloads.SINKS:
        put(f"{name}_s", [agg(p["sp"], f"sink:{name}")["s"] for p in per_op], "s")
    put("sink.self_s", [p["sink"]["self_s"] for p in per_op], "s")
    maint_spans = [s for o in maint for s in spans_by_op[o.index] if s.parent is None]
    for span_name, key in (("compact", "compact.s"), ("snapshot.vacuum", "snapshot.vacuum_s"),
                           ("readback", "readback.s")):
        put(key, [s.end - s.start for s in maint_spans if s.name == span_name], "s")
    out_bytes = [p["sink"]["c"].output_bytes for p in per_op]
    put("write.output_bytes", out_bytes, "bytes")
    batches = getattr(wl, "batches", [])
    put("write.amp", [ob / batches[p["o"].index - 1].nbytes
                      for ob, p in zip(out_bytes, per_op) if batches], "ratio")
    put("write.files", [extra[p["o"].index].get("files", 0) for p in per_op], "count")
    put("upsert.rows_inserted", [p["o"].results.get("upsert.path", {}).get("insert", 0)
                                 for p in per_op], "rows")
    put("upsert.rows_updated", [p["o"].results.get("upsert.path", {}).get("update", 0)
                                for p in per_op], "rows")
    # each traced op against its untraced neighbours, which follows the
    # warm-up trend of successive ops; the first warm op is left out, as it
    # still pays first-run costs (JIT of the warm path) far above the trend
    wall = {o.index: o.wall_s for o in ops[2:]}
    diffs = []
    for o in warm:
        near = [wall[j] for j in (o.index - 1, o.index + 1) if j in wall]
        if o.index in wall and near:
            diffs.append(wall[o.index] - mean(near))
    m["trace.overhead_s"] = (mean(diffs), "s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    run_dir = WORK / f"run-{os.getpid()}"
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: Path) -> int:
    isolate(run_dir)
    from perfbench import probe, workloads
    from perfbench.workloads import Op

    import_s = probe.process_age_s()
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    load_before = os.getloadavg()
    ticks_before = probe.host_cpu_ticks()
    data_dir = run_dir / "data"
    wl = workloads.WORKLOADS[args.workload](args.seed, str(data_dir), args.size)
    t = time.perf_counter()
    wl.make_inputs()
    gen_s = time.perf_counter() - t

    tree = probe.ProcessTree()
    spark, get_spark_s, register_s = start_session(wl, run_dir)
    try:
        sc = spark.sparkContext
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_version": spark.version,
            "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
            "load_before": load_before,
        }
        cores = sc.defaultParallelism
        tracer = probe.Tracer(spark, enabled=False)
        cache = CacheCounter(tracer)
        if args.trace:
            cache.install()
        tree.sample_rss()
        ops: list[Op] = []
        maint: list[Op] = []
        extra: dict[int, dict] = {}

        def one(index: int) -> None:
            # traced runs alternate traced and untraced warm operations, so
            # one run also measures the tracing overhead
            traced = bool(args.trace) and index % 2 == 0
            tracer.enabled = traced
            cpu0 = tree.cpu_s()
            files0 = wl.data_files() if traced and hasattr(wl, "data_files") else None
            op = Op(index, "cold" if index == 0 else "warm", 0.0, 0.0, traced)
            with tracer.span("op", op=index) as s:
                wl.run_op(spark, tracer, op)
            op.start, op.end = s.start, s.end
            cpu1 = tree.cpu_s()
            op.cpu_s = {k: cpu1[k] - cpu0[k] for k in cpu1}
            ops.append(op)
            tree.sample_rss()
            if traced:
                extra[index] = {"storage": probe.storage(spark)}
                if files0 is not None:
                    extra[index]["files"] = len(wl.data_files() - files0)
            m_op = wl.maintain(spark, tracer, index)
            if m_op is not None:
                maint.append(m_op)
                tree.sample_rss()

        one(0)
        deadline = time.perf_counter() + args.seconds
        i = 1
        # at least MIN_WARM warm operations, so warm_pass_s is a median of
        # that many samples also on a slow host
        while (time.perf_counter() < deadline or len(ops) <= MIN_WARM) and wl.has_op(i):
            one(i)
            i += 1
        tracer.enabled = False
        t = time.perf_counter()
        wl.check(ops)
        check_s = time.perf_counter() - t

        jobs = []
        if args.trace:
            probe.wait_for_listeners(spark)
            jobs = probe.read_jobs(spark)
        tree.sample_rss()
    finally:
        stop_session(spark, tree)

    setup_s = import_s + get_spark_s + register_s

    all_ops = ops + maint
    attempted = sum(o.attempted for o in all_ops)
    failures = [f for o in all_ops for f in o.failures]
    warm_s = [o.wall_s for o in ops[1:] if not o.traced] or [o.wall_s for o in ops[1:]]
    if args.trace:
        metrics = layer_metrics(wl, ops, maint, tracer, jobs, cache, extra, cores)
        metrics["session.import_s"] = (import_s, "s")
        metrics["session.get_spark_s"] = (get_spark_s, "s")
        metrics["session.register_s"] = (register_s, "s")
        metrics["inputs.gen_s"] = (gen_s, "s")
        metrics["rss.peak_mb"] = (tree.peak_rss_mb(), "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (ops[0].wall_s, "s"),
            "warm_pass_s": (statistics.median(warm_s), "s"),
        }
    env.update(
        load_after=os.getloadavg(),
        steal_frac=probe.steal_frac(ticks_before, probe.host_cpu_ticks()),
        warm_pass_samples=len(warm_s), gen_s=gen_s,
        check_s=check_s, failed_frac=len(failures) / max(1, attempted),
        failures=failures[:20],
    )
    report = {
        "env": env,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "ops": [{"index": o.index, "kind": o.kind, "wall_s": o.wall_s, "traced": o.traced,
                 "cpu_s": o.cpu_s, "failures": o.failures} for o in all_ops],
        "spans": [vars(s) for s in tracer.spans],
        "jobs": [{"id": j.id, "group": j.group, "start": j.start, "end": j.end,
                  "stages": j.stages, **vars(j.counters)} for j in jobs],
    }
    out = WORK / "out"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(report, indent=1, default=str)
    )
    print(json.dumps({"run": env}, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
