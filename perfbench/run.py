"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload checkall_batch --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout. It builds the seeded inputs (cached
under perfbench/.cache), sets up the session a CLI user gets
(``get_spark(cores=N)`` with the program's own defaults, N = min(3, nproc)),
runs one cold op and then warm ops in a closed loop for ``--seconds``,
checks every op's output outside the timed regions, and prints as its
last stdout line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. The run record (host, conf, versions, per-op
times and load, spans, per-job-group stage metrics) is written to
perfbench/.runs/. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark gets one core less than the 4-vCPU host has: the driver's Python
# thread, the JIT compiler and the GC then do not compete with the tasks.
# Measured on checkall_batch: the same warm-op times, and the range of the
# per-run mean warm-op time fell from 1.09 s (5 runs, local[4]) to 0.28 s
# (4 runs, local[3])
MAX_CORES = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["checkall_batch", "dedup_nearpairs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _check_program() -> str | None:
    for need in ("fastpasta_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return f"{need} not found under {ROOT}: run from a full checkout"
    return None


def _isolate(tmp: str) -> None:
    """Keep every file Spark and the JVM write inside the checkout."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------


def session(trace: bool):
    from fastpasta_spark.session import get_spark

    extra = None
    if trace:
        # the status store's REST API, localhost only, traced runs only
        import socket

        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        extra = {"spark.ui.enabled": "true", "spark.ui.port": str(port),
                 "spark.driver.host": "127.0.0.1",
                 "spark.ui.showConsoleProgress": "false"}
    return get_spark(cores=cores(), extra_conf=extra)


def stop_jvm(spark) -> None:
    """Stop the Spark application and its JVM, and wait for every process
    the JVM started."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _reap()


def _reap(timeout: float = 30.0) -> None:
    import signal

    import spans

    deadline = time.monotonic() + timeout
    while spans.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in spans.descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


# ---------------------------------------------------------------------------
# the measured run
# ---------------------------------------------------------------------------


def measure(spark, workload: str, input_dir: str, expected: dict, seconds: float,
            trace: bool, plant: str, tmp: str, min_warm: int | None = None) -> dict:
    """Cold op + closed-loop warm ops on an open session: warm ops until
    `seconds` have passed, and at least `min_warm` (default: the
    workload's own). Returns the op results, end-to-end metrics and
    (traced) per-layer metrics."""
    import spans
    import workloads

    ctx = SimpleNamespace(spark=spark, expected=expected, input_dir=input_dir,
                          tmp=tmp, plant=plant, cores=cores(),
                          tracer=spans.Tracer(spark.sparkContext, False),
                          store=spans.StatusStore(spark) if trace else None)
    wl = workloads.WORKLOADS[workload](ctx)
    t_open = time.perf_counter()
    wl.open()
    marks = {"opened": time.perf_counter()}
    open_s = marks["opened"] - t_open

    results = []
    next_job = [0]

    def one(k: int, traced: bool):
        ctx.tracer.on = traced
        l0 = os.getloadavg()[0]
        j0, c0 = spans.jvm_state(spark), spans.cpu_ticks(os.getpid())
        r = wl.run_op(k)
        c1 = spans.cpu_ticks(os.getpid())
        r.load = [round(l0, 2), round(os.getloadavg()[0], 2)]
        r.traced = traced
        r.rss_mb = spans.tree_peak_rss_mb(os.getpid())
        # per-op factors a run-to-run difference could follow: driver
        # heap, GC, CPU the process tree got, host steal, and (untraced
        # ops) jobs/stages/tasks
        j1 = spans.jvm_state(spark)
        hz = os.sysconf("SC_CLK_TCK")
        r.factors = {"heap_committed_mb": j1["heap_committed_mb"],
                 "heap_used_mb": j1["heap_used_mb"],
                 "gc_s": (j1["gc_ms"] - j0["gc_ms"]) / 1000.0,
                 "gc_count": j1["gc_count"] - j0["gc_count"],
                 "tree_cpu_s": (c1["tree"] - c0["tree"]) / hz,
                 "host_busy_s": (c1["host_busy"] - c0["host_busy"]) / hz,
                 "host_steal_s": (c1["steal"] - c0["steal"]) / hz}
        jobs = spans.ungrouped_jobs(spark.sparkContext, next_job[0])
        next_job[0] = jobs.pop("max_job") + 1
        r.jobs = jobs if not traced else {}
        results.append(r)

    one(0, trace)
    marks["first_op"] = deadline = time.perf_counter()
    deadline += seconds
    k = 1
    # traced runs alternate traced and untraced warm ops, so the tracing
    # overhead is measured under the same load in the same session
    min_warm = wl.min_warm if min_warm is None else min_warm
    while time.perf_counter() < deadline or k <= min_warm:
        one(k, trace and k % 2 == 1)
        k += 1
    marks["warm_ops"] = time.perf_counter()
    ctx.tracer.on = False

    # throughput over the untraced warm ops (docs per op / mean op time).
    # Host steal and JIT warm-up move single ops; over four sets of 6-10
    # seeds this spread less (IQR/median 0.11-0.18) than the median op
    # (0.12-0.20), the fastest op or the last ops
    untraced = [i for i in range(1, len(results)) if not (trace and i % 2 == 1)]
    ok = [results[i].wall for i in untraced if not results[i].failed]
    out = {"results": results, "open_s": open_s, "marks": marks,
           "measured_ops": untraced, "layers": {}, "spans": []}
    out["e2e"] = {
        "docs_per_s": wl.n_docs * len(ok) / sum(ok) if ok else float("nan"),
        "first_op_s": results[0].wall,
    }
    out["peak_rss_mb"] = results[-1].rss_mb
    if trace:
        out["layers"] = _layers(wl, ctx, results, out["e2e"])
        out["spans"] = ctx.tracer.spans
        out["group_stages"] = ctx.group_stages
        marks["layers"] = time.perf_counter()
    failed = sum(r.failed for r in results)
    out["e2e"]["ok_ops_ratio"] = (len(results) - failed) / len(results)
    return out


def _layers(wl, ctx, results, e2e) -> dict:
    """Per-layer metrics of a traced run. Appends the probes' own ops
    (streaming drains) to results."""
    import spans

    t = ctx.tracer
    n_loop = len(results)
    # traced warm ops from op 3 on: op 1 is still JIT-cold, and the
    # untraced side starts at op 2, so neither side carries it
    warm_traced = list(range(3, n_loop, 2)) or [1]
    t.on = True
    layers: dict = {}
    results.extend(wl.probe(layers))
    t.on = False
    snap = ctx.store.snapshot()
    ctx.group_stages = {g: spans.group_rollup(snap, g) for g in sorted(
        {j.get("jobGroup") for j in snap["jobs"] if j.get("jobGroup")})}

    def med(name):
        return spans.median(t.durations(name, warm_traced))

    def med_layer(key):
        return spans.median([results[k].layers[key] for k in warm_traced
                             if key in results[k].layers])

    def group_med(call, key):
        return spans.median([spans.group_rollup(snap, f"op{k}:{call}")[key]
                             for k in warm_traced])

    ok_traced = [results[k].wall for k in warm_traced if not results[k].failed]
    layers["trace.docs_per_s"] = wl.n_docs * len(ok_traced) / sum(ok_traced)
    layers["trace.overhead_ratio"] = 1.0 - layers["trace.docs_per_s"] / e2e["docs_per_s"]
    layers["trace.span_coverage"] = min(t.top_level(k) / results[k].wall
                                        for k in [0, *warm_traced])
    layers["failed_ops_ratio"] = sum(r.failed for r in results) / len(results)
    layers["cache.leaked_after_release"] = sum(r.leaked for r in results)
    for key in ("executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                "tasks", "failed_tasks"):
        layers[f"spark.{key}"] = spans.median(
            [spans.group_rollup(snap, f"op{k}:")[key] for k in warm_traced])

    def op0_layer(key):
        return results[0].layers.get(key, 0)

    if wl.name == "checkall_batch":
        layers["check_all.guard_broadcast"] = op0_layer("check_all.guard_broadcast")
        layers["check_all.call_s"] = t.durations("check_all.call", [0])[0]
        layers["check_all.media_broadcast_s"] = _jobs_wall(snap, "op0:check_all.call")
        layers["check_all.violations_s"] = med("check_all.violations")
        layers["check_all.metrics_s"] = med("check_all.metrics")
        layers["check_all.verdicts_s"] = med("check_all.verdicts")
        layers["check_all.violation_rows"] = med_layer("check_all.violation_rows")
        layers["check_all.docs_failed"] = med_layer("check_all.docs_failed")
        layers["cache.persist_bytes"] = med_layer("cache.persist_bytes")
        layers["uniqueness.exchange_bytes"] = spans.group_rollup(
            snap, "op1004:uniqueness.exchange")["shuffle_write_bytes"]
        drains = results[n_loop + 1:]  # the first drain is the cold one
        layers["stream.executor_run_s"] = spans.median(
            [spans.group_rollup(snap, *r.groups)["executor_run_s"] for r in drains])
    else:
        layers["dedup.jaccard_s"] = med("dedup.jaccard")
        layers["dedup.jaccard_candidate_rows"] = group_med("dedup.jaccard", "join_rows")
        layers["dedup.jaccard_pairs_out"] = med_layer("dedup.jaccard_pairs_out")
        layers["dedup.jaccard_useful_ratio"] = (
            layers["dedup.jaccard_pairs_out"]
            / max(1, layers["dedup.jaccard_candidate_rows"]))
        layers["dedup.jaccard_shuffle_bytes"] = group_med(
            "dedup.jaccard", "shuffle_write_bytes")
        layers["dedup.minhash_s"] = med("dedup.minhash")
        layers["dedup.minhash_candidates"] = group_med("dedup.minhash", "join_rows")
        layers["dedup.minhash_pairs_out"] = med_layer("dedup.minhash_pairs_out")
        layers["similarity.cosine_topk_s"] = med("similarity.cosine_topk")
        layers["similarity.query_matrix_path"] = op0_layer("similarity.query_matrix_path")
    return layers


def _jobs_wall(snap: dict, group: str) -> float:
    """Wall time of the jobs a call ran (submission to completion)."""
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")

    return sum((ts(j["completionTime"]) - ts(j["submissionTime"])).total_seconds()
               for j in snap["jobs"]
               if j.get("jobGroup") == group and "completionTime" in j)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    args = _parse(argv)
    err = _check_program()
    if err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 2
    tmp = os.path.join(HERE, ".tmp", f"{args.workload}-{os.getpid()}")
    _isolate(tmp)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, tmp: str) -> int:
    import pyspark.sql  # noqa: F401  (timed as part of set-up)

    import fastpasta_spark.session  # noqa: F401
    import spans
    import workloads  # noqa: F401  (timed as part of set-up)

    import_s = time.perf_counter() - T_PROCESS

    import corpus

    t0 = time.perf_counter()
    input_dir, expected, built = corpus.ensure(args.workload, args.seed, "full")
    t_built = time.perf_counter()
    gen_s = t_built - t0 if built else expected.get("gen_s", 0.0)

    # the set-up a one-shot CLI run pays: imports, JVM launch, session,
    # input open; the one-time input generation above is left out
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = session(trace)
    get_spark_s = time.perf_counter() - t0
    try:
        m = measure(spark, args.workload, input_dir, expected, args.seconds,
                    trace, "none", tmp)
        record = {"host": spans.host_record(spark, ROOT)}
    finally:
        stop_jvm(spark)
    # measure() opens the inputs first thing: set-up ends there
    setup_s = import_s + m["marks"]["opened"] - t0
    marks = {"imported": T_PROCESS + import_s, "inputs_built": t_built,
             **m["marks"], "stopped": time.perf_counter()}

    out = result_line(m, trace, setup_s, get_spark_s, gen_s)
    results = m["results"]
    record.update({
        "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds,
        "cores": cores(), "import_s": import_s, "get_spark_s": get_spark_s,
        "input_gen_s": gen_s, "input_cached": not built,
        "ops": [{"wall_s": r.wall, "failed": r.failed, "problems": r.problems,
                 "leaked": r.leaked, "load_1m": r.load, "traced": r.traced,
                 "tree_peak_rss_mb": r.rss_mb,
                 "factors": r.factors, "jobs": r.jobs,
                 "measured": i in m["measured_ops"]}
                for i, r in enumerate(results)],
        "end_to_end": dict(m["e2e"], setup_s=setup_s),
        "peak_rss_mb": m["peak_rss_mb"],
        "per_layer": m["layers"], "spans": m["spans"],
        "group_stages": m.get("group_stages", {}),
        "phase_end_s": {k: round(v - T_PROCESS, 3) for k, v in marks.items()},
    })
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    with open(os.path.join(HERE, ".runs", f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for i, r in enumerate(results):
        if r.failed:
            print(f"# op {i} failed: {r.problems} leaked={r.leaked}", file=sys.stderr)
    print(json.dumps(out))
    return 0


def result_line(m: dict, trace: bool, setup_s: float,
                get_spark_s: float, gen_s: float) -> dict:
    """The result object: end-to-end metrics, or per-layer ones when
    traced, each with its unit."""
    import spans

    results = m["results"]
    failed = sum(r.failed for r in results)
    if trace:
        layers = dict(m["layers"])
        layers["session.get_spark_s"] = get_spark_s
        layers["sources.input_ready_s"] = m["open_s"]
        layers["sources.input_gen_s"] = gen_s
        layers["process.peak_rss_mb"] = m["peak_rss_mb"]
        shown = {k: layers.get(k, 0) for k in PER_LAYER}
    else:
        e2e = dict(m["e2e"], setup_s=setup_s)
        shown = {k: e2e[k] for k in END_TO_END}
    return {"correct": failed == 0, "attempted": len(results), "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in shown.items()}}


END_TO_END = ["docs_per_s", "first_op_s", "setup_s", "ok_ops_ratio"]
PER_LAYER = [
    "process.peak_rss_mb", "session.get_spark_s",
    "sources.input_ready_s", "sources.input_gen_s",
    "check_all.call_s", "check_all.media_broadcast_s", "check_all.guard_broadcast",
    "check_all.violations_s", "check_all.metrics_s", "check_all.verdicts_s",
    "check_all.violation_rows", "check_all.docs_failed",
    "sequence.pass_s", "sequence.kernel_docs_per_s", "sequence.kernel_share",
    "sequence.clean_doc_ratio", "sequence.rows_out_per_doc", "sequence.v_rows",
    "sequence.s_rows", "sequence.k_rows",
    "uniqueness.exchange_bytes", "uniqueness.dup_keys",
    "cache.persist_bytes", "cache.leaked_after_release",
    "stream.start_s", "stream.drain_s", "stream.epoch_p50_s",
    "stream.addbatch_p50_s", "stream.epoch_tail_s", "stream.executor_run_s",
    "stream.epochs", "stream.rows_per_epoch", "stream.sink_bytes",
    "dedup.jaccard_s", "dedup.jaccard_candidate_rows", "dedup.jaccard_pairs_out",
    "dedup.jaccard_useful_ratio", "dedup.jaccard_shuffle_bytes",
    "dedup.minhash_s", "dedup.minhash_candidates", "dedup.minhash_pairs_out",
    "similarity.cosine_topk_s", "similarity.query_matrix_path",
    "spark.executor_run_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.tasks", "spark.failed_tasks",
    "trace.docs_per_s", "trace.overhead_ratio", "trace.span_coverage",
    "failed_ops_ratio",
]
UNITS = {
    "docs_per_s": "docs/s", "first_op_s": "s", "setup_s": "s", "process.peak_rss_mb": "MB",
    "ok_ops_ratio": "ratio",
    "check_all.guard_broadcast": "flag", "similarity.query_matrix_path": "flag",
    "sequence.kernel_docs_per_s": "docs/s", "trace.docs_per_s": "docs/s",
    "sequence.kernel_share": "ratio", "sequence.clean_doc_ratio": "ratio",
    "sequence.rows_out_per_doc": "rows/doc", "dedup.jaccard_useful_ratio": "ratio",
    "trace.overhead_ratio": "ratio", "trace.span_coverage": "ratio",
    "failed_ops_ratio": "ratio", "stream.rows_per_epoch": "rows",
}
for _k in PER_LAYER:
    if _k not in UNITS:
        UNITS[_k] = ("s" if _k.endswith("_s") else
                     "bytes" if _k.endswith("_bytes") else "count")


if __name__ == "__main__":
    sys.exit(main())
