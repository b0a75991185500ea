"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_to_shards --seed 1 --seconds 8 --trace 0

Run from the repository root. The library is imported from the
directory above this one; inputs are generated from ``--seed`` under
``.perfbench/`` in that directory and removed at exit. One closed-loop
client (this process) drives a ``local[nproc]`` Spark session.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
runs two traced passes, prints the per-layer metrics and writes the
spans to ``.perfbench/spans/``. The last stdout line is always
``{"correct", "attempted", "failed", "metrics"}``; the line before it
describes the session config, host and sizes.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}
PER_LAYER = {
    "operators.prepare_training_corpus.call_s": "s",
    "operators.prepare_training_corpus.hidden_jobs": "count",
    "operators.mix_corpora.call_s": "s",
    "operators.mix_corpora.hidden_jobs": "count",
    "operators.pack_sequences.call_s": "s",
    "sources.read_warc.call_s": "s",
    "sources.write_training_shards.call_s": "s",
    "sources.write_training_shards.jobs": "count",
    "model.schema_s": "s",
    "sources.read_parquet.call_s": "s",
    "validators.validate.call_s": "s",
    "validators.validate.jobs": "count",
    "validators.validate.exec_cpu_s": "s",
    "dataframe.cast.call_s": "s",
    "dataframe.fill_null.call_s": "s",
    "dataframe.derive.call_s": "s",
    "entry.build_s": "s",
    "entry.hidden_jobs": "count",
    "entry.action_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_w_bytes": "bytes",
    "spark.shuffle_r_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_read_amp": "ratio",
    "spark.python_rows": "count",
    "trace.overhead_s": "s",
}


def host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    import pyspark

    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "pyspark": pyspark.__version__, "python": sys.version.split()[0]}


def session_config(work: str, cpus: int, ram_gb: float) -> dict:
    """The benchmark's one Spark config, sized to the host.

    * driver memory: a quarter of RAM, 2-8 GB (``bench.py``'s 48g does
      not fit a 15 GB host; the inputs here are small);
    * shuffle partitions = cores, as ``bench.py`` (``get_session`` uses
      max(cores, 8), which on 4 cores doubles the tasks per shuffle of a
      fixed-cost-dominated suite);
    * Arrow on, as ``get_session``: the configuration the test suite and
      the oracle checks run under, and the one the Arrow lanes need;
    * codegen class cache 10000 entries (both agree): a varied session
      must not re-compile evicted classes on every pass;
    * status stores retain every job and stage of a run, so traced
      passes can be read back whole;
    * scratch space (``SPARK_LOCAL_DIRS``, ``java.io.tmpdir``, the
      warehouse) stays under the run's work directory, and no JVM keeps
      perf data in /tmp.
    """
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cpus}]",
        "spark.driver.memory": f"{max(2, min(8, round(ram_gb / 4)))}g",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.codegen.cache.maxEntries": "10000",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.files.openCostInBytes": str(256 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }

def prepare_env(work: str) -> None:
    """Keep every scratch file of this process, its JVM and its Python
    workers under ``work``, and let the workers import the library."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM (the spark-submit launcher included) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def start_session(conf: dict, name: str):
    """Launch a JVM and start a Spark session on it that has run its
    first job."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(name)
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop ``spark`` and its JVM, and wait until the JVM has ended."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


class Ctx:
    """What a workload sees of the run: session, seed, work directory."""

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work, self.root = spark, seed, work, ROOT


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (p80 of 10 values is the 8th smallest)."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def main(argv) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "patito_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no patito_spark library under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    try:
        return run(args, WORKLOADS[args.workload](), work, state)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl, work: str, state: str) -> int:
    # Set-up is the library import and a session start: a JVM launched
    # and a Spark session on it that has run a first job. Each is timed
    # once, as a process does each once: a second session on the same
    # JVM starts in a twentieth of the time and would not measure the
    # cold start, and a second JVM per run does not fit the run budget.
    # Writing the seeded inputs is the benchmark's own work and is not
    # part of set-up.
    from spans import SparkStores, Tracer, peak_rss_mb

    info = host()
    conf = session_config(work, info["nproc"], info["ram_gb"])
    t_import = time.perf_counter()
    import patito_spark  # noqa: F401

    t_start = time.perf_counter()
    spark = start_session(conf, f"perfbench-{wl.name}")
    setup = {"import_s": t_start - t_import,
             "session_start_s": time.perf_counter() - t_start}
    setup_s = sum(setup.values())
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
    tr = Tracer(spark, run_id, enabled=False)
    ctx = Ctx(spark, args.seed, work)
    checks: dict[str, list[bool]] = {}
    counts = {"attempted": 0, "failed": 0}

    def record(results: dict) -> None:
        for name, ok in results.items():
            checks.setdefault(name, []).append(bool(ok))

    def one_pass(inp, stage: str, **kw):
        """One checked pass; None when it raised (counted as failed)."""
        counts["attempted"] += 1
        try:
            res = wl.iterate(ctx, tr, inp, **kw)
        except Exception as exc:
            counts["failed"] += 1
            traceback.print_exc()
            print(f"perfbench: {stage} pass failed: {type(exc).__name__}: {exc}",
                  file=sys.stderr)
            return None
        counts["attempted"] += len(res["ops"]) - 1
        record(wl.check(ctx, inp, res))
        wl.cleanup(res)
        return res

    metrics: dict[str, float] = {}
    peak_mb = op_p80 = None
    inp = {"bytes": 0}
    try:
        inp = wl.prepare(ctx)
        # A batch-job workload times the first pass of a fresh process; a
        # service workload first runs an untimed, checked warm-up pass,
        # so its timed passes run in a warm session. A failed warm-up is
        # counted in ``failed`` and nothing is timed after it.
        warm = not wl.warm_up or one_pass(inp, "warm-up", warm_up=True) is not None
        if warm and args.trace:
            metrics = traced_passes(wl, tr, one_pass, inp, record,
                                    SparkStores(spark), info)
            tr.dump(os.path.join(state, "spans", f"{run_id}.jsonl"))
        elif warm:
            timed = []
            t_measure = time.perf_counter()
            while (len(timed) < wl.min_passes
                   or time.perf_counter() - t_measure < args.seconds):
                res = one_pass(inp, "timed")
                if res is None:
                    break
                timed.append(res)
            if timed and res is not None:
                ops = [t for res in timed for t in res["ops"]]
                metrics = {
                    "setup_s": setup_s,
                    "op_p50_s": statistics.median(ops),
                    "items_per_s": sum(r["items"] for r in timed)
                    / sum(r["wall"] for r in timed),
                }
                op_p80 = quantile(ops, 0.8)
        peak_mb = peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)

    failed_checks = sorted(n for n, oks in checks.items() if not all(oks))
    attempted = counts["attempted"] + sum(len(oks) for oks in checks.values())
    failed = counts["failed"] + sum(oks.count(False) for oks in checks.values())
    units = PER_LAYER if args.trace else END_TO_END
    complete = set(metrics) >= set(units)
    print(json.dumps({"perfbench": {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "host": info, "session": conf, "input_bytes": inp["bytes"],
        "peak_rss_mb": peak_mb, "op_p80_s": op_p80,
        "setup": setup,
        "failed_checks": failed_checks,
        "fingerprints": inp.get("fingerprints", []),
    }}))
    print(json.dumps({
        "correct": failed == 0 and complete,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items() if k in metrics},
    }))
    return 0


def traced_passes(wl, tr, one_pass, inp, record, stores, info) -> dict:
    """Per-layer metrics of a traced first pass, then tracing overhead
    and counter repeatability from two more passes over the same input.

    Pass 1 is traced and is the pass the end-to-end metrics time (the
    first timed pass of the run), so its breakdown adds up to that
    number. Pass 2 (traced) and pass 3 (untraced) repeat it: their wall
    difference is the tracing overhead (pass 3 runs warmer, so this
    overstates it), and their wall-free counters must be identical.
    """
    from spans import attribute

    tr.enabled = True
    res = one_pass(inp, "traced")
    if res is None:
        return {}
    spans = list(tr.spans)
    jobs, stages = stores.jobs(), stores.stages()
    att = attribute(_owners(spans, jobs), jobs, stages)
    sql = stores.sql_metrics(set(att["job_owner"]))
    layers = {name: 0 for name in PER_LAYER}
    layers.update({k: v for k, v in wl.layers(spans, att).items() if k in PER_LAYER})
    layers.update({
        "spark.plan_s": sum(stores.plan_seconds(df) for df in res["plan_df"]),
        "spark.jobs": att["jobs"],
        "spark.stages": att["stages"],
        "spark.tasks": att["tasks"],
        "spark.exec_run_s": att["exec_run_s"],
        "spark.exec_cpu_s": att["exec_cpu_s"],
        "spark.core_util": att["exec_run_s"] / (res["wall"] * info["nproc"]),
        "spark.shuffle_w_bytes": att["shuffle_w_bytes"],
        "spark.shuffle_r_bytes": att["shuffle_r_bytes"],
        "spark.spill_bytes": att["spill_bytes"],
        "spark.input_read_amp": sql["scan_bytes"] / inp["bytes"],
        "spark.python_rows": sql["python_rows"],
    })

    last_job = max((j["jobId"] for j in jobs), default=-1)
    first = len(tr.spans)
    traced = one_pass(inp, "traced")
    tr.enabled = False
    untraced = one_pass(inp, "untraced")
    if untraced is None or traced is None:
        return {}
    jobs, stages = stores.jobs(), stores.stages()
    traced_owner = _owners(tr.spans[first:], jobs)
    untraced_owner = {
        j["jobId"]: "pass" for j in jobs
        if j["jobId"] > last_job and j["jobId"] not in traced_owner
    }
    counters = [
        _counters(stores, attribute(owner, jobs, stages))
        for owner in (untraced_owner, traced_owner)
    ]
    if counters[0] != counters[1]:
        print(f"perfbench: counters differ between passes: {counters}",
              file=sys.stderr)
    record({"trace.counters_repeat": counters[0] == counters[1]})
    layers["trace.overhead_s"] = traced["wall"] - untraced["wall"]
    return layers


def _owners(spans, jobs) -> dict:
    """Job id -> id of the span whose job group launched it."""
    ids = {s["id"] for s in spans}
    return {j["jobId"]: j["jobGroup"] for j in jobs if j.get("jobGroup") in ids}


def _counters(stores, att) -> dict:
    """The wall-free counters of one pass."""
    keys = ("jobs", "stages", "tasks", "shuffle_w_bytes", "shuffle_r_bytes")
    out = {k: att[k] for k in keys}
    out["scan_bytes"] = stores.sql_metrics(set(att["job_owner"]))["scan_bytes"]
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
