"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Generates the inputs (once per checkout, under ``.perfbench_work/``),
starts the engine's session at ``local[N]`` with N the usable cores,
sets the workload up and warms it, times its seeded script, checks the
outputs, and prints two JSON lines: diagnostics (per-operation wall and
CPU, host steal, Spark counters, warm-up passes), then the result —
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run wraps the engine's layer entry points in spans and the metrics are
the per-layer ones. Metric names and units come from BENCHMARK.json.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for the set-up wall time

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "spark_iceberg_schema_evolution_spark")
WORK = os.path.join(ROOT, ".perfbench_work")

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import sparkstats as ss  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

# C1 only: with the default tiered C2, compiler threads burned about as
# much CPU as the queries themselves for many passes after warm-up, and
# that compile CPU spread widely between runs. Without tiering the JVM
# reserves only 48 MB for compiled code; some query_mix runs filled it,
# and the JVM then stops compiling, so the tiered default of 240 MB is
# reserved instead. No hsperfdata file: the JVM would write it under
# /tmp, outside the checkout.
JAVA_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:-UsePerfData"


def declared() -> tuple[dict, list[str]]:
    """Units of every declared metric, and the per-layer names in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return units, [m["name"] for m in spec["per_layer"]]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def code_fingerprint() -> str:
    """Hash of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in (PKG_DIR, HERE):
        for root, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(root, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def configure_env(run_dir: str) -> None:
    """Keep every file the session writes inside the checkout, and size
    the session to this host's cores explicitly (the engine's default is
    local[32])."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["ENGINE_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["ENGINE_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    tempfile.tempdir = tmp  # the engine's own temp dirs (q49's stream source)
    # the status store keeps 1000 jobs and stages by default; a run
    # submits fewer, but never let the timed region's jobs be evicted
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} {JAVA_OPTS}' pyspark-shell"
    )


def table_files(roots: list[str]) -> dict[str, int]:
    """Sizes of the data files and commit manifests under ``roots``."""
    out = {}
    for r in roots:
        for root, _, files in os.walk(r):
            for f in files:
                if f.endswith(".parquet") or (f.startswith("v") and f.endswith(".json")):
                    p = os.path.join(root, f)
                    try:
                        out[p] = os.path.getsize(p)
                    except FileNotFoundError:
                        pass
    return out


def run(args) -> tuple[dict, dict]:
    from spark_iceberg_schema_evolution_spark.session import get_spark

    code = code_fingerprint()  # of the sources this run executes
    # the first run in a checkout writes the inputs; that is the
    # benchmark's work, not the engine's, so setup_s leaves it out
    g0, c0 = time.perf_counter(), sum(os.times()[:2])
    data_dir = datagen.ensure_dataset(os.path.join(WORK, f"data-{datagen.VERSION}"))
    datagen_s = time.perf_counter() - g0
    datagen_cpu_ms = (sum(os.times()[:2]) - c0) * 1000.0
    # fixed-width name: commit manifests hold absolute paths, so the
    # stored bytes must not depend on how many digits the pid has
    run_dir = os.path.join(WORK, f"run-{os.getpid():07d}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    spark = get_spark()
    gateway = spark.sparkContext._gateway
    try:
        return measure(args, spark, data_dir, run_dir, code, datagen_s, datagen_cpu_ms)
    finally:
        # stop the session, then the JVM, and wait until it has exited
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(
    args, spark, data_dir: str, run_dir: str, code: str, datagen_s: float,
    datagen_cpu_ms: float,
) -> tuple[dict, dict]:
    sc = spark.sparkContext
    jvm = ss.Jvm(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    session_start_s = time.perf_counter() - T0 - datagen_s
    ctx = Ctx(spark, jvm, data_dir, run_dir, args.seed, args.seconds)
    wl = WORKLOADS[args.workload]()
    warm = wl.setup(ctx)
    ops = wl.ops()
    tracer = spans.Tracer(jvm.cpu_ms) if args.trace else None
    ctx.tracer = tracer  # spans cover the timed region only
    roots = [os.path.join(run_dir, d) for d in wl.table_dirs]
    files_before = table_files(roots) if tracer else {}
    new_files: dict[str, int] = {}
    if tracer:
        tracer.install()

    # ---- timed region: no status-store or JMX read per operation ----
    jmx0 = jvm.jmx()
    steal0, host0 = ss.host_cpu()
    cpu0 = jvm.cpu_ms()
    t0 = time.perf_counter()
    walls, op_cpu, errors = [], [], []
    for i, (label, _module, fn) in enumerate(ops):
        sc.setJobGroup(f"pb{i}", label)
        if tracer:
            tracer.op = f"pb{i}"
            sid = tracer.begin(f"op.{label}", "bench")
        c = jvm.cpu_ms()  # a /proc read, no py4j
        s = time.perf_counter()
        try:
            fn()
        except Exception as e:  # noqa: BLE001
            errors.append(f"{label}: {type(e).__name__}: {e}"[:300])
        walls.append(time.perf_counter() - s)
        op_cpu.append(jvm.cpu_ms() - c)
        if tracer:
            tracer.end(sid)
            b = time.perf_counter()
            now = table_files(roots)
            new_files.update({p: n for p, n in now.items() if p not in files_before})
            files_before = now
            tracer.overhead_s += time.perf_counter() - b
    t1 = time.perf_counter()
    cpu1 = jvm.cpu_ms()
    steal1, host1 = ss.host_cpu()
    jmx1 = jvm.jmx()
    # ---- end of timed region ----
    sc.setJobGroup("pb-checks", "checks after the timed region")
    if tracer:
        tracer.uninstall()

    n = len(ops)
    # set-up in CPU seconds (engine JVM plus this process, from their
    # start): under host steal its wall time swung far more than the
    # bound between two sets of runs (see README.md); wall is a diagnostic
    setup_s = (cpu0 - datagen_cpu_ms) / 1000.0
    setup_wall_s = t0 - T0 - datagen_s
    region_s = t1 - t0
    cpu_ms = cpu1 - cpu0
    jobs, stages = jvm.store()
    mine = ss.jobs_in(jobs, {f"pb{i}" for i in range(n)})
    tot = ss.totals(mine, stages)
    problems = [f"operation failed: {e}" for e in errors] + wl.verify()
    problems += check_counts(args, ops, mine, stages, code)
    e2e = {
        "setup_s": setup_s,
        "cpu_ms_per_op": stats.per_op(cpu_ms, n),
        "task_cpu_ms_per_op": stats.per_op(tot["task_cpu_ms"], n),
        "peak_exec_mem_mb": tot["peak_exec_mem_mb"],
        "bytes_per_row": wl.bytes_per_row(),
    }
    p50, cnt = stats.percentile(walls, 50)
    p90, _ = stats.percentile(walls, 90)
    cat = wl.catalyst()
    layers = {
        "session.start_s": session_start_s,
        "session.warm_s": setup_wall_s - session_start_s,
        "jvm.jit_ms_per_op": stats.per_op(jmx1["jit_ms"] - jmx0["jit_ms"], n),
        "jvm.gc_ms_per_op": stats.per_op(jmx1["gc_ms"] - jmx0["gc_ms"], n),
        "jvm.codegen_compiles_per_op": stats.per_op(
            jmx1["codegen_compiles"] - jmx0["codegen_compiles"], n
        ),
        "jvm.peak_rss_mb": jvm.peak_rss_mb(),
        "catalyst.analysis_ms_per_op": stats.per_op(cat.get("analysis", 0.0), n),
        "catalyst.optimization_ms_per_op": stats.per_op(cat.get("optimization", 0.0), n),
        "catalyst.planning_ms_per_op": stats.per_op(cat.get("planning", 0.0), n),
        "sched.jobs_per_op": stats.per_op(tot["jobs"], n),
        "sched.stages_per_op": stats.per_op(tot["stages"], n),
        "sched.tasks_per_op": stats.per_op(tot["tasks"], n),
        "sched.driver_cpu_ms_per_op": stats.per_op(cpu_ms - tot["task_cpu_ms"], n),
        "exec.task_run_ms_per_op": stats.per_op(tot["task_run_ms"], n),
        "exec.shuffle_read_bytes_per_op": stats.per_op(tot["shuffle_read_bytes"], n),
        "exec.shuffle_write_bytes_per_op": stats.per_op(tot["shuffle_write_bytes"], n),
        "exec.spill_bytes_per_op": stats.per_op(tot["spill_bytes"], n),
        "exec.input_bytes_per_op": stats.per_op(tot["input_bytes"], n),
        "wall.op_s.p50": p50,
        "wall.op_s.p90": p90,
        "wall.op_s.n": float(cnt),
        "wall.ops_per_s": stats.per_op(n, region_s),
        "host.steal_pct": 100.0 * stats.per_op(steal1 - steal0, host1 - host0),
        "host.loadavg1": ss.loadavg1(),
        "ops_failed_share": stats.per_op(len(errors), n),
    }
    units, per_layer = declared()
    if tracer:
        layers.update(span_metrics(tracer, ops, mine, new_files, cpu_ms, region_s))
        # a layer the workload never enters reports 0
        metrics = {k: layers.get(k, 0.0) for k in per_layer}
    else:
        metrics = e2e
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "region_s": region_s, "setup_wall_s": setup_wall_s, "datagen_s": datagen_s,
        "warm_units": warm,
        "e2e": e2e, "layers": layers,
        "ops": [[label, w, c] for (label, _, _), w, c in zip(ops, walls, op_cpu)],
        "checksums": getattr(wl, "reference", None), "problems": problems[:20],
        # per timed job: group, stages, tasks and call site, so that a run
        # whose counts differ can be compared job by job with another run
        "jobs": [
            [j["jobGroup"], len(j["stageIds"]), j.get("numCompletedTasks"), j.get("name")]
            for j in sorted(mine, key=lambda j: j["jobId"])
        ],
    }
    result = {
        "correct": not problems,
        "attempted": n,
        "failed": len(errors),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, diag


def check_counts(args, ops, mine, stages, code: str) -> list[str]:
    """Job, stage and task counts per operation label must repeat: across
    the passes of one run (query_mix), and against the first run of the
    same workload and length on the same code in this checkout."""
    by_group: dict[str, list] = {}
    for j in mine:
        by_group.setdefault(j["jobGroup"], []).append(j)
    sig: dict[str, list] = {}
    for i, (label, _, _) in enumerate(ops):
        t = ss.totals(by_group.get(f"pb{i}", []), stages)
        sig.setdefault(label, []).append([t["jobs"], t["stages"], t["tasks"]])
    for v in sig.values():
        v.sort()
    problems = []
    if args.workload == "query_mix":
        for label, v in sig.items():
            if any(x != v[0] for x in v):
                problems.append(f"{label}: counts differ between passes: {v}")
    path = os.path.join(WORK, f"counts-{args.workload}-{args.seconds:g}-{code}.json")
    if os.path.isfile(path):
        with open(path) as fh:
            first = json.load(fh)
        diff = sorted(k for k in set(first) | set(sig) if first.get(k) != sig.get(k))
        if diff:
            problems.append(
                "job/stage/task counts differ from the first run of this code: "
                + "; ".join(f"{k}: {first.get(k)} -> {sig.get(k)}" for k in diff[:5])
            )
    else:
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(sig, fh)
        os.replace(tmp, path)
    return problems


def span_metrics(tracer, ops, mine, new_files, cpu_ms, region_s) -> dict:
    """The per-layer numbers only the traced run has."""
    all_spans = tracer.spans
    n = len(ops)
    self_s = stats.self_times(all_spans)
    jobs = spans.attribute_jobs(all_spans, mine)
    by_id = {s["id"]: s for s in all_spans}

    def entries(name):
        # calls INTO a layer: the span's parent is in another layer
        return [
            s for s in all_spans
            if s["name"] == name
            and (s["parent"] is None or by_id[s["parent"]]["layer"] != s["layer"])
        ]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    m = {}
    builds = [s for s in all_spans if s["layer"] == "queries"]
    p50, cnt = stats.percentile([(s["end"] - s["start"]) * 1000 for s in builds], 50)
    m["queries.build_ms.p50"] = p50
    m["queries.build_ms.n"] = float(cnt)
    m["queries.build_jobs_per_op"] = stats.per_op(sum(jobs.get(s["id"], 0) for s in builds), n)
    for meth in spans.TABLE_METHODS:
        es = entries(f"tables.{meth}")
        m[f"tables.{meth}.cpu_ms"] = mean([s["cpu_ms"] for s in es])
        m[f"tables.{meth}.jobs"] = mean([jobs.get(s["id"], 0) for s in es])
        m[f"tables.{meth}.wall_s.p50"] = stats.percentile(
            [s["end"] - s["start"] for s in es], 50
        )[0]
    data = {p: b for p, b in new_files.items() if p.endswith(".parquet") and os.path.isfile(p)}
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in data)
    commits = sum(1 for p in new_files if p.endswith(".json"))
    m["tables.files_per_commit"] = stats.per_op(len(data), commits)
    m["tables.write_bytes_per_row"] = stats.per_op(sum(data.values()), rows)
    op_span = {s["op"]: s for s in all_spans if s["layer"] == "bench"}
    by_module: dict[str, list] = {}
    for i, (_, module, _) in enumerate(ops):
        if module:
            by_module.setdefault(module, []).append(op_span[f"pb{i}"]["cpu_ms"])
    for module, cpus in by_module.items():
        m[f"operators.{module}.cpu_ms_per_op"] = mean(cpus)
    m["streaming.windows.cpu_ms"] = mean(by_module.get("streaming", []))
    for name in {s["name"] for s in all_spans if s["layer"] in ("operators", "sources", "jobs")}:
        m[f"{name}.cpu_ms"] = mean([s["cpu_ms"] for s in entries(name)])
    for layer in ("queries", "tables", "operators", "sources", "jobs", "streaming", "bench"):
        m[f"{layer}.self_ms_per_op"] = stats.per_op(
            1000 * sum(self_s[s["id"]] for s in all_spans if s["layer"] == layer), n
        )
    m["trace.overhead_pct"] = 100.0 * stats.per_op(tracer.overhead_s, region_s)
    m["trace.spans_per_op"] = stats.per_op(len(all_spans), n)
    m["trace.cpu_ms_per_op"] = stats.per_op(cpu_ms, n)
    return m


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(PKG_DIR, "session.py")):
        print(f"perfbench: engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    args = parse(argv)
    result, diag = run(args)
    if diag["problems"]:
        print("perfbench: " + "\n  ".join(diag["problems"]), file=sys.stderr)
    print(json.dumps(diag))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
