"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one closed-loop workload (see workloads.py) on a Spark session sized
from the machine, prints every metric as ``# name value unit`` lines and
ends with one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced blocks and reports the per-layer metrics.

Everything the run writes stays under ``.perfbench_run/`` in the current
directory, which is removed at the end; traced runs leave their span file
in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPEATS = 3

# the gated end-to-end metrics (BENCHMARK.json); op_tail_s is printed but
# not gated: with 10 to 40 operations in a run its run-to-run spread on a
# 4-core box is near the largest bound a metric may have
END_TO_END = ["setup_s", "ops_per_s", "op_p50_s", "peak_rss_mb"]

# per-layer counters read from a traced call's arguments and result
def _prune_hook(tr, result, args, kwargs):
    adds = args[0] if args else kwargs["adds"]
    tr.count("skipping", "files_considered", len(adds))
    tr.count("skipping", "files_skipped", result[1])


def _scan_hook(tr, result, args, kwargs):
    adds = args[2] if len(args) > 2 else kwargs["adds"]
    tr.count("reader.scan_adds", "files", len(adds))


def _stage_hook(tr, result, args, kwargs):
    tr.count("writer.stage_files", "files", len(result))
    tr.count("writer.stage_files", "bytes", sum(a.size for a in result))


# traced functions: (module, attribute, span name, result hook)
TARGETS = [
    ("delta_lake_spark.log", "DeltaLog.snapshot", "log.snapshot", None),
    ("delta_lake_spark.log", "DeltaLog.latest_version", "log.latest_version", None),
    ("delta_lake_spark.log", "DeltaLog.commit", "log.commit", None),
    ("delta_lake_spark.log", "DeltaLog.write_checkpoint", "log.write_checkpoint", None),
    ("delta_lake_spark.skipping", "prune_adds", "skipping.prune_adds", _prune_hook),
    ("delta_lake_spark.reader", "read_delta", "reader.read_delta", None),
    ("delta_lake_spark.reader", "scan_adds", "reader.scan_adds", _scan_hook),
    ("delta_lake_spark.cdf", "table_changes", "cdf.table_changes", None),
    ("delta_lake_spark.writer", "write_delta", "writer.write_delta", None),
    ("delta_lake_spark.writer", "stage_files", "writer.stage_files", _stage_hook),
    ("delta_lake_spark.table", "MergeBuilder.execute", "table.merge", None),
    ("delta_lake_spark.table", "DeltaTable.delete", "table.delete", None),
    ("delta_lake_spark.table", "DeltaTable.update", "table.update", None),
    ("delta_lake_spark.table", "DeltaTable.optimize", "table.optimize", None),
    ("delta_lake_spark.table", "DeltaTable.vacuum", "table.vacuum", None),
    ("delta_lake_spark.operators.dedup", "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs", None),
    ("delta_lake_spark.operators.dedup", "ngram_jaccard_pairs", "operators.dedup.ngram_jaccard_pairs", None),
    ("delta_lake_spark.operators.dedup", "resolve_duplicate_clusters", "operators.dedup.resolve_duplicate_clusters", None),
    ("delta_lake_spark.operators.text", "decontaminate", "operators.text.decontaminate", None),
    ("delta_lake_spark.operators.similarity", "semantic_dedup", "operators.similarity.semantic_dedup", None),
    ("delta_lake_spark.operators._cache", "register_persisted", "operators._cache.register_persisted", None),
]
SELF_S = [t[2] for t in TARGETS if t[2] != "operators._cache.register_persisted"]
CALLS = ["log.snapshot", "log.latest_version", "log.commit", "log.write_checkpoint",
         "operators._cache.register_persisted"]
SPARK = ["jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", choices=("full", "smoke"), default="full",
                    help="input sizes; smoke is for the benchmark's own tests")
    return ap.parse_args(argv)


def machine() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # a quarter of RAM, at most 4 GB: the inputs are tens of MB, and the
    # host is shared
    driver_gb = max(1, min(4, mem_kb // (4 << 20)))
    return {"nproc": nproc, "driver_memory": f"{driver_gb}g"}


def spark_session(m: dict, work: str):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{m['nproc']}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(m["nproc"]))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", m["driver_memory"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the parallel collector with a fixed young generation reuses the
        # same eden pages every cycle, so the JVM's resident set follows
        # retained memory; G1's adaptive region sizing made peak RSS vary
        # by a quarter between identical runs
        .config("spark.driver.extraJavaOptions",
                f"-Dderby.system.home={work} -XX:+UseParallelGC -Xmn512m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the JVM ends when the
    pipe to its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children", encoding="ascii") as fh:
                    kids = [int(c) for c in fh.read().split()]
                out.extend(kids)
                todo.extend(kids)
        except OSError:
            continue
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus every descendant:
    the Spark JVM and any Python workers still alive."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                total_kb += int(next(l for l in fh if l.startswith("VmHWM")).split()[1])
        except (OSError, StopIteration):
            continue
    return total_kb / 1024.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest sample with at least ten
    samples above it. Below 21 samples no sample above the median has
    ten beyond it, and the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n > 20:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return xs[-1], 100.0, n


def measure(wl, seconds: float, tracer=None) -> tuple[list, list[bool]]:
    """Run whole blocks until ``seconds`` have passed and at least the
    workload's ``min_blocks`` have run. With a tracer, odd blocks are
    traced and even ones are not, and at least one of each runs."""
    from perfbench import trace as tracing
    from perfbench.workloads import Result

    results, traced = [], []
    deadline = time.perf_counter() + seconds
    block = 0
    while True:
        on = tracer is not None and block % 2 == 1
        undo = tracing.install(tracer, TARGETS) if on else []
        try:
            for op in wl.plan_block():
                if on:
                    tracer.op = len(results)
                    wl.tracer = tracer
                try:
                    res = wl.run(op)
                except Exception as exc:  # a failed operation is counted, the run goes on
                    traceback.print_exc(file=sys.stderr)
                    res = Result(op.kind, float("nan"), False, repr(exc))
                finally:
                    wl.tracer = None
                if on:
                    tracer.harvest_spark()
                print(f"op {op.kind} {res.seconds:.4f} {'ok' if res.ok else 'FAILED ' + res.detail[:300]}",
                      file=sys.stderr)
                results.append(res)
                traced.append(on)
        finally:
            tracing.uninstall(undo)
        block += 1
        enough = max(wl.min_blocks, 1 if tracer is None else 2)
        if time.perf_counter() >= deadline and block >= enough:
            if tracer is not None:
                tracer.harvest_spark()  # jobs a per-operation harvest missed
            return results, traced


def end_to_end(results, setup_times) -> dict[str, tuple[float, str]]:
    secs = [r.seconds for r in results if r.seconds == r.seconds]
    t, _, _ = tail(secs)
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "ops_per_s": (len(secs) / sum(secs), "1/s"),
        "op_p50_s": (statistics.median(secs), "s"),
        "op_tail_s": (t, "s"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
    }


def per_layer(tracer, results, traced, queries) -> dict[str, tuple[float, str]]:
    from perfbench.trace import covered, self_times

    spans = tracer.spans
    selfs = self_times(spans)
    n = max(1, sum(traced))
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by_name.setdefault(s.name, []).append(i)
    out: dict[str, tuple[float, str]] = {}
    for name in CALLS:
        out[f"{name}.calls"] = (len(by_name.get(name, [])) / n, "calls/op")
    for name in SELF_S:
        out[f"{name}.self_s"] = (sum(selfs[i] for i in by_name.get(name, [])) / n, "s/op")
    snaps = sorted(spans[i].end - spans[i].start for i in by_name.get("log.snapshot", []))
    out["log.snapshot.p50_ms"] = (1e3 * statistics.median(snaps) if snaps else 0.0, "ms")
    c = tracer.counts
    out["log.commit.conflicts"] = (c["log.commit"]["ConcurrentModificationError"] / n, "count/op")
    considered, skipped = c["skipping"]["files_considered"], c["skipping"]["files_skipped"]
    out["skipping.files_considered"] = (considered / n, "files/op")
    out["skipping.files_skipped"] = (skipped / n, "files/op")
    out["skipping.skip_ratio"] = (skipped / considered if considered else 0.0, "ratio")
    out["reader.scan_adds.files"] = (c["reader.scan_adds"]["files"] / n, "files/op")
    out["writer.stage_files.files"] = (c["writer.stage_files"]["files"] / n, "files/op")
    out["writer.stage_files.bytes"] = (c["writer.stage_files"]["bytes"] / n, "bytes/op")
    out["table.files_rewritten"] = (c["table"]["files_rewritten"] / n, "files/op")
    changed = c["table"]["rows_changed"]
    out["table.rewrite_amp"] = (c["table"]["rows_rewritten"] / changed if changed else 0.0, "ratio")
    for q in queries:
        runs = c[f"queries.{q}"]["runs"]
        for part in ("build_s", "exec_s"):
            out[f"queries.{q}.{part}"] = (c[f"queries.{q}"][part] / runs if runs else 0.0, "s")
    out["operators.persisted_bytes_peak"] = (float(tracer.peak_persisted), "bytes")
    totals = {k: 0.0 for k in SPARK}
    for metrics in tracer.spark.values():
        for k in SPARK:
            totals[k] += metrics[k]
    units = {"executor_run_s": "s/op"}
    for k in SPARK:
        out[f"spark.{k}"] = (totals[k] / n, units.get(k, "bytes/op" if k.endswith("bytes") else "count/op"))
    roots = [i for i, s in enumerate(spans) if s.parent is None]
    root_time = sum(spans[i].end - spans[i].start for i in roots)
    driver_only = sum(
        (spans[i].end - spans[i].start)
        - covered(tracer.job_intervals.get(spans[i].op, []), spans[i].start, spans[i].end)
        for i in roots
    )
    out["spark.driver_only_s"] = (driver_only / n, "s/op")
    out["trace.unattributed_share"] = (sum(selfs[i] for i in roots) / root_time if root_time else 0.0, "ratio")
    on = [r.seconds for r, t in zip(results, traced) if t]
    off = [r.seconds for r, t in zip(results, traced) if not t]
    out["trace.overhead_ratio"] = (statistics.median(on) / statistics.median(off), "ratio")
    return out


def run(argv) -> dict:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    # fail before starting anything when the engine is not next to us
    import delta_lake_spark.queries  # noqa: F401  (binds every traced function)
    from perfbench import workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM Spark starts, its launcher included, keeps its perf-data
    # file and temp files inside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    m = machine()
    load_start = os.getloadavg()
    spark = spark_session(m, work)
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(work, "data"), args.seed, workloads.SIZES[args.sizes]
        )
        wl.generate()
        setup_times = []
        for _ in range(SETUP_REPEATS):
            # each repetition rebuilds the same state from the inputs; the
            # last one is measured
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        # a traced run always warms up, so that its untraced and traced
        # blocks are equally warm
        if wl.warm_up_first or args.trace:
            wl.warm_up()
        tracer = Tracer(spark.sparkContext) if args.trace else None
        results, traced = measure(wl, args.seconds, tracer)
        failed = sum(not r.ok for r in results)
        info = {
            "workload": args.workload, "seed": args.seed, "nproc": m["nproc"],
            "driver_memory": m["driver_memory"], "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()], "spark": spark.version,
            "python": platform.python_version(), "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
        # end-to-end figures come from untraced operations only
        plain = [r for r, t in zip(results, traced) if not t]
        _, pct, n = tail([r.seconds for r in plain if r.seconds == r.seconds])
        figures = end_to_end(plain, setup_times)
        figures.update(wl.summary(plain))
        figures["error_rate"] = (failed / len(results), "ratio")
        if tracer is not None:
            layers = per_layer(tracer, results, traced, workloads.CURATION_QUERIES)
            out_dir = os.path.join(cwd, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            layers = {}
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    return {"info": info, "figures": figures, "layers": layers, "tail": (pct, n),
            "attempted": len(results), "failed": failed, "trace": bool(args.trace)}


def main(argv=None) -> None:
    out = run(sys.argv[1:] if argv is None else argv)
    for k, v in out["info"].items():
        print(f"# {k} {v}")
    pct, n = out["tail"]
    print(f"# op_tail_s is p{pct:.1f} of n={n} operations")
    for name, (value, unit) in {**out["figures"], **out["layers"]}.items():
        print(f"# {name} {value:.6g} {unit}")
    reported = out["layers"] if out["trace"] else {k: out["figures"][k] for k in END_TO_END}
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }))


if __name__ == "__main__":
    main()
