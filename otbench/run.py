#!/usr/bin/env python3
"""Benchmark of the Open Targets step pipeline and the catalog query mix.

Run from the repository root:

    python3 otbench/run.py --workload ot_pipeline --seed 1 --seconds 10 --trace 0

Workloads (one closed-loop client on ``local[nproc]``, engine DEFAULT_CONF).
Each run times exactly one pass, the first in its process, whatever
``--seconds`` says: a batch ETL run and an analyst's ``query`` CLI call (one
query per process) both pay JIT and code-generation warm-up on every run.

- ``ot_pipeline``: a seeded generator writes raw TSV/CSV/JSON/OBO inputs for
  the 11 reference steps; the pass is ``run_steps`` over them in dependency
  order, writing parquet with the steps' own output configs.
- ``interactive_sf0.01``: ``run_query(q, limit=20)`` over the query mix on
  seeded sf0.01 tables, in seeded order.
- ``analytics_sf0.1``: the same mix on sf0.1 tables, each query forced with a
  ``noop`` write. Its runs are too long for the repository benchmark's time
  budget, so BENCHMARK.json lists only the other two.

With ``--trace 0`` the end-to-end metrics are reported: ``setup_s``, the CPU
seconds this process and its children (gateway JVM, Python workers) use from
process start to a ready session (engine import, ``get_spark``, one trivial
job), and ``cpu_s``, the CPU seconds they use in the timed pass. With
``--trace 1`` the timed pass itself is traced instead (the same calls, each
in a span, with the Spark event log on) and the per-layer metrics are
reported; ``trace.wall_s`` against the untraced ``wall_s`` gives the tracing
overhead. ``wall_s``, ``setup_wall_s``, ``latency_p50_s``, ``latency_p90_s``,
``peak_rss_mb`` and ``failed_frac`` are printed and recorded beside the
metrics. Outputs are checked outside the timed region. Everything the run
writes stays under ``otbench/_work``. The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is the full result record.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
NPROC = len(os.sched_getaffinity(0))
MB = 1 << 20

# Sized for a 4-core, 15 GB machine: one driver JVM at a time, 3 GB heap.
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "3g",
    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                                     "-XX:-UsePerfData",
}
# One query per operator module; each further query adds ~4 s to a run.
MIX = ("q_tpch_q3", "q_sessionize", "q_asof_join", "q_llr_contingency", "q_minhash_lsh",
       "q_ann_ivf", "q_pagerank", "q_tfidf_top_terms", "q_bpe_encode")
OT_GENES = 300
INTERACTION_FILES = 4 * NPROC
CATALOG = {"interactive_sf0.01": (0.01, "limit"), "analytics_sf0.1": (0.1, "noop")}
WORKLOADS = ("ot_pipeline",) + tuple(CATALOG)


def process_age() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    with open("/proc/self/stat", encoding="utf-8") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    gateway JVM, Python workers), children already reaped included. Time the
    hypervisor steals from this VM is not CPU time, so co-tenants that slow
    the wall clock leave this figure alone."""
    ppid, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        ppid[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in ppid.items() if pp == p and c not in tree)
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def setup_session(event_dir: str | None):
    """Import the engine, start its session and run one trivial job.
    Returns (spark, seconds spent in get_spark)."""
    from platform_etl_backend_spark import catalog, steps  # noqa: F401
    from platform_etl_backend_spark.engine import io, runner  # noqa: F401
    from platform_etl_backend_spark.engine.session import get_spark

    conf = dict(SESSION_CONF)
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t = time.perf_counter()
    spark = get_spark("otbench", master=f"local[{NPROC}]", extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    spark.range(1).collect()
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM it started has exited."""
    from pyspark import SparkContext

    spark.stop()
    proc = SparkContext._gateway.proc
    proc.stdin.close()  # the gateway JVM exits at the end of its input
    proc.wait(timeout=60)


def quantile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def log(msg: str) -> None:
    print(f"otbench: [{time.perf_counter() - _T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def files_sha256(path: str) -> str:
    """Digest of every file name and its bytes under ``path``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode("utf-8") + b"\0")
        with open(os.path.join(path, name), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Run:
    """Counts operations and failures; keeps timing samples."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.wall = 0.0  # seconds of the timed pass
        self.cpu = 0.0  # CPU seconds of the timed pass (tree_cpu_s)
        self.latencies: list[float] = []
        self.info: dict = {}

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"otbench: FAILED {what}", file=sys.stderr)


# ---------------------------------------------------------------------------
# ot_pipeline
# ---------------------------------------------------------------------------

def _ot_digests(cfg: dict) -> dict[str, list]:
    from check import digest

    out = {}
    for step, sc in cfg["steps"].items():
        for name, c in sc["output"].items():
            try:
                out[f"{step}/{name}"] = list(digest(c["format"], c["path"]))
            except (OSError, ValueError) as e:  # missing or unreadable: a mismatch
                out[f"{step}/{name}"] = [-1, f"{type(e).__name__}: {str(e)[:200]}"]
    return dict(sorted(out.items()))


def _ot_pass(run: Run, spark, cfg: dict, order, tracer) -> float:
    """One pass: ``run_steps`` per step or, with a tracer, the three calls
    ``run_steps`` makes (``read_from``, ``STEPS[name]``, ``write_to``), each
    in its own span."""
    from platform_etl_backend_spark.engine.runner import run_steps

    t0 = time.perf_counter()
    with tracer.span("pass") if tracer else contextlib.nullcontext():
        for name in order:
            run.attempted += 1
            t = time.perf_counter()
            try:
                if tracer:
                    _ot_traced_step(spark, cfg["steps"][name], name, tracer)
                else:
                    run_steps([name], cfg, spark=spark)
            except Exception as e:  # a failed step is counted, later steps still run
                run.fail(f"step {name}: {type(e).__name__}: {str(e)[:200]}")
            run.latencies.append(time.perf_counter() - t)
    return time.perf_counter() - t0


def _ot_traced_step(spark, conf: dict, name: str, tracer) -> None:
    from platform_etl_backend_spark.engine.config import IOResourceConfig, parse_input_map
    from platform_etl_backend_spark.engine.io import IOResource, read_from, write_to
    from platform_etl_backend_spark.steps import STEPS

    with tracer.span(f"step {name}", layer="step", key=name):
        with tracer.span(f"read {name}", layer="engine.io.read", key=name):
            inputs = read_from(spark, parse_input_map(conf.get("input", {})))
        with tracer.span(f"build {name}", layer="steps.build", key=name):
            outputs = STEPS[name](spark, {k: r.data for k, r in inputs.items()},
                                  **conf.get("params", {}))
        with tracer.span(f"write {name}", layer="engine.io.write", key=name):
            out_conf = {k: IOResourceConfig.from_dict(v) for k, v in conf.get("output", {}).items()}
            write_to({k: IOResource(df, out_conf[k]) for k, df in outputs.items() if k in out_conf})


def _check_ot(run: Run, got: dict, seed: int) -> None:
    """Raw-input and output digests against the committed expectation
    (default seed) or against the first run of this seed in this checkout."""
    with open(os.path.join(HERE, "expected_ot.json"), encoding="utf-8") as fh:
        committed = json.load(fh)
    if seed == committed["seed"] and committed["genes"] == OT_GENES:
        want, source = committed, "committed expectation"
    else:
        path = os.path.join(WORK, "digests", f"ot-seed{seed}-g{OT_GENES}.json")
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as fh:
                json.dump(got, fh, indent=1)
        with open(path, encoding="utf-8") as fh:
            want, source = json.load(fh), "first run of this seed"
    if want["raw_sha256"] != got["raw_sha256"]:
        run.fail(f"generated inputs differ from the {source}")
    w, g = want["outputs"], got["outputs"]
    for step in sorted({k.split("/")[0] for k in set(w) | set(g) if w.get(k) != g.get(k)}):
        run.fail(f"outputs of step {step} differ from the {source}")


def ot_pipeline(spark, seed: int, tracer) -> Run:
    import gen_ot

    run = Run()
    root = os.path.join(WORK, "ot")
    shutil.rmtree(root, ignore_errors=True)
    cfg = gen_ot.write_ot_inputs(root, seed, OT_GENES, INTERACTION_FILES)
    raw_dir = os.path.join(root, "raw")
    raw_bytes = dir_bytes(raw_dir)
    log(f"generated {raw_bytes} bytes of raw inputs")
    cpu0 = tree_cpu_s()
    run.wall = _ot_pass(run, spark, cfg, gen_ot.STEP_ORDER, tracer)
    run.cpu = tree_cpu_s() - cpu0
    log("measured pass done")
    out_dir = os.path.join(root, "out")
    out_bytes = dir_bytes(out_dir)
    out_files = sum(1 for _, _, fs in os.walk(out_dir) for f in fs if f.startswith("part-"))
    outputs = _ot_digests(cfg)
    _check_ot(run, {"raw_sha256": files_sha256(raw_dir), "outputs": outputs}, seed)
    log("outputs checked")
    run.info = {"raw_input_bytes": raw_bytes, "output_bytes": out_bytes,
                "output_bytes_ratio": out_bytes / raw_bytes, "output_files": out_files,
                "genes": OT_GENES, "outputs": outputs}
    return run


# ---------------------------------------------------------------------------
# catalog workloads
# ---------------------------------------------------------------------------

def catalog_workload(spark, seed: int, tracer, sf: float, mode: str) -> Run:
    import gen_tables
    from check import oracle_connection, result_mismatch, rows_of_duck
    from platform_etl_backend_spark.catalog import QUERIES
    from platform_etl_backend_spark.engine.runner import run_query

    run = Run()
    table_dir = os.path.join(WORK, f"tables_sf{sf}")
    shutil.rmtree(table_dir, ignore_errors=True)
    raw_bytes = gen_tables.write_tables(table_dir, seed, sf)
    log(f"generated {raw_bytes} bytes of tables")
    order = list(MIX)
    random.Random(seed).shuffle(order)

    def execute(q: str):
        """``run_query``, or with a tracer its two calls, each in a span."""
        if tracer:
            with tracer.span(f"build {q}", layer="catalog.build", key=q):
                df = QUERIES[q].fn(spark, table_dir)
            with tracer.span(f"exec {q}", layer="catalog.exec", key=q):
                if mode == "noop":
                    return df.write.format("noop").mode("overwrite").save()
                return df.limit(20).collect()
        if mode == "noop":
            return QUERIES[q].fn(spark, table_dir).write.format("noop").mode("overwrite").save()
        return run_query(q, table_dir, limit=20, spark=spark)

    results = {}
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    with tracer.span("pass") if tracer else contextlib.nullcontext():
        for q in order:
            run.attempted += 1
            t = time.perf_counter()
            try:
                results[q] = execute(q)
            except Exception as e:
                run.fail(f"{q}: {type(e).__name__}: {str(e)[:200]}")
            run.latencies.append(time.perf_counter() - t)
    run.wall = time.perf_counter() - t0
    run.cpu = tree_cpu_s() - cpu0
    log("measured pass done")

    # Untimed oracle check. run_query's 20 rows must be drawn from the
    # oracle's full result; a noop write returns nothing, so its query is
    # collected once more here and compared in full.
    con = oracle_connection(table_dir)
    for q in order:
        if q not in results:
            continue
        try:
            if mode == "noop":
                df = QUERIES[q].fn(spark, table_dir)
                rows, cols, limit = df.collect(), df.columns, None
            else:
                rows, limit = results[q], 20
                cols = list(rows[0].asDict()) if rows else None
            why = result_mismatch(rows, cols, rows_of_duck(con, QUERIES[q].oracle), limit)
        except Exception as e:
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            run.fail(f"{q} (oracle check): {why}")
    con.close()
    log("oracle check done")
    run.info = {"raw_input_bytes": raw_bytes, "sf": sf, "mix": list(MIX)}
    return run


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def peak_rss_mb(spark) -> float:
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm(jvm_pid) + hwm("self")) / 1024


def per_layer_metrics(run: Run, tracer, stats: dict, get_spark_s: float) -> dict:
    """Every per-layer metric of every workload; a layer the workload does not
    run reads 0."""
    from gen_ot import STEP_ORDER

    m: dict[str, tuple[float, str]] = {"engine.session.get_spark_s": (get_spark_s, "s")}
    names = {"engine.io.read": "engine.io.read.{}_s", "steps.build": "steps.{}.build_s",
             "engine.io.write": "engine.io.write.{}_s", "catalog.build": "catalog.{}.build_s",
             "catalog.exec": "catalog.{}.exec_s"}
    for layer, fmt in names.items():
        for key in (MIX if layer.startswith("catalog") else STEP_ORDER):
            m[fmt.format(key)] = (0.0, "s")
    for key in STEP_ORDER + MIX:
        m[f"spark.{key}.jobs"] = (0, "count")
        m[f"spark.{key}.shuffle_mb"] = (0.0, "MB")
    m["engine.io.read_jobs"] = (0, "count")

    def add(name, value):
        m[name] = (m[name][0] + value, m[name][1])

    for s in tracer.spans:
        layer, key = s["tags"].get("layer"), s["tags"].get("key")
        group = stats["groups"].get(s["id"], {"jobs": 0, "shuffle_bytes": 0})
        if key:
            add(f"spark.{key}.jobs", group["jobs"])
            add(f"spark.{key}.shuffle_mb", group["shuffle_bytes"] / MB)
        if layer in names:
            add(names[layer].format(key), s["end"] - s["start"])
        if layer == "engine.io.read":
            add("engine.io.read_jobs", group["jobs"])
    span_ids = {s["id"] for s in tracer.spans}
    tasks = [t for t in stats["tasks"] if t["group"] in span_ids]
    traced = run.wall
    pass_span = next(s for s in tracer.spans if s["parent"] is None)
    covered = tracer.leaf_coverage(pass_span["start"], pass_span["end"])
    m.update({
        "spark.tasks": (len(tasks), "count"),
        "spark.scheduler_delay_s": (sum(t["sched_delay_ms"] for t in tasks) / 1000, "s"),
        "spark.slot_busy_frac": (sum(t["run_ms"] for t in tasks) / 1000 / (traced * NPROC),
                                 "ratio"),
        "spark.spill_mb": (sum(t["spill_bytes"] for t in tasks) / MB, "MB"),
        "spark.gc_s": (sum(t["gc_ms"] for t in tasks) / 1000, "s"),
        "engine.io.output_files": (run.info.get("output_files", 0), "count"),
        "engine.io.output_bytes_ratio": (run.info.get("output_bytes_ratio", 0.0), "ratio"),
        "trace.wall_s": (traced, "s"),
        "trace.overhead_s": (tracer.overhead_s, "s"),
        "trace.uncovered_s": (traced - covered, "s"),
        "trace.coverage_frac": (covered / traced, "ratio"),
    })
    return m


def end_to_end_metrics(run: Run, setup_cpu_s: float) -> dict:
    """CPU seconds, not wall seconds: on a 4-core VM whose hypervisor stole
    up to a quarter of the time this run's threads were runnable, the
    interquartile range of ten runs' wall times reached 0.38 of their median,
    that of their CPU times at most 0.19."""
    return {"setup_s": (setup_cpu_s, "s"), "cpu_s": (run.cpu, "s")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted for a uniform interface; a run times one pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "platform_etl_backend_spark")):
        print(f"otbench: no platform_etl_backend_spark package under {ROOT}", file=sys.stderr)
        return 2
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Python workers (pandas UDFs) import the engine from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]

    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, "trace", f"{args.workload}-events")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    spark, get_spark_s = setup_session(event_dir)
    setup_wall_s, setup_cpu_s = process_age(), tree_cpu_s()
    log(f"session ready after {setup_wall_s:.2f}s ({setup_cpu_s:.2f} CPU s)")

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext, f"{args.workload}-seed{args.seed}")
    if args.workload == "ot_pipeline":
        run = ot_pipeline(spark, args.seed, tracer)
    else:
        sf, mode = CATALOG[args.workload]
        run = catalog_workload(spark, args.seed, tracer, sf, mode)

    jvm = spark._jvm.java.lang
    env = {"nproc": NPROC, "pyspark": spark.version,
           "java": jvm.System.getProperty("java.version"),
           "driver_memory": SESSION_CONF["spark.driver.memory"],
           "heap_max_mb": jvm.Runtime.getRuntime().maxMemory() / MB,
           "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions")}
    rss = peak_rss_mb(spark)
    stop_session(spark)
    log("session stopped")

    if tracer:
        from spans import event_log_stats

        tracer.write(os.path.join(WORK, "trace", f"{args.workload}-spans.json"))
        metrics = per_layer_metrics(run, tracer, event_log_stats(event_dir), get_spark_s)
    else:
        metrics = end_to_end_metrics(run, setup_cpu_s)

    failed = min(len(run.failures), run.attempted)
    # Reported but not metrics, as their run-to-run spread is too wide to
    # bound: wall times follow the CPU time the hypervisor steals; a run has
    # 9 or 11 latency samples of different operations, so a percentile is
    # whichever operation lands on its rank; and the JVM's peak RSS follows
    # G1 heap growth, which depends on GC timing.
    info = {"wall_s": (run.wall, "s"), "setup_wall_s": (setup_wall_s, "s"),
            "latency_p50_s": (quantile(run.latencies, 0.5), "s"),
            "latency_p90_s": (quantile(run.latencies, 0.9), "s"),
            "peak_rss_mb": (rss, "MB"),
            "failed_frac": (failed / run.attempted, "ratio")}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env,
        "samples": {"setup": 1, "passes": 1, "latency": len(run.latencies)},
        "latencies_s": run.latencies,
        "attempted": run.attempted, "failed": failed,
        "failures": run.failures[:20],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **{k: v for k, (v, _) in info.items()},
        **{k: v for k, v in run.info.items() if k != "outputs"},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump({**record, "outputs": run.info.get("outputs")}, fh, indent=1)
    for name, (value, unit) in {**metrics, **info}.items():
        print(f"{name:44s} {value:14.6f} {unit}")
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted, "failed": failed,
                      "metrics": record["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
