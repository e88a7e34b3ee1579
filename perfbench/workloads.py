"""The two workloads: inputs, one op, its output checks, layer probes.

Every op is one closed-loop client call sequence: the next op starts when
the previous one (and its untimed checks) finished. An op's wall time is
its clock from start to end less the block that checks its outputs; the
checks are never timed. An op fails if it raised, its output mismatched the expected
fingerprint, or it left a cache behind.
"""

from __future__ import annotations

import os
import shutil
import time
from types import SimpleNamespace

import corpus
import spans as tr

VCOLS = ["doc_id", "span_idx", "offset", "check_code", "severity", "message"]
PLANT_OP = 1  # the warm op a self-test fault is planted into


def _now() -> float:
    return time.perf_counter()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _rounded(row) -> tuple:
    """Floats at 6 dp as ints, so fingerprints are exact."""
    return tuple(round(v * 1e6) if isinstance(v, float) else v for v in row)


class OpResult:
    def __init__(self, wall: float, problems: list[str], leaked: int = 0,
                 layers: dict | None = None):
        self.wall, self.problems, self.leaked = wall, problems, leaked
        self.layers = layers or {}
        self.groups: tuple[str, ...] = ()  # job groups Spark set itself
        self.load: list[float] = []        # 1-min loadavg at start and end
        self.traced = False
        self.rss_mb = 0.0                  # process-tree peak RSS after the op
        self.factors: dict = {}            # heap, GC, CPU, steal during the op
        self.jobs: dict = {}               # untraced op: jobs, stages, tasks

    @property
    def failed(self) -> bool:
        return bool(self.problems) or self.leaked > 0


class Workload:
    """Shared plumbing; subclasses define open/op/probe."""

    name = ""
    min_warm = 4  # warm ops per run even when --seconds is short

    def __init__(self, ctx):
        # ctx: spark, tracer, expected, input_dir, tmp, plant, cores
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def t(self):
        return self.ctx.tracer

    def leak_check(self) -> int:
        """What the op left cached after its own release: tracked
        entries, then whatever is still cached after release_tracked()
        (persistent RDDs, or any DataFrame persist the cache manager
        still holds) before clearCache() would free it. Leftovers are
        then freed so the next op is judged on its own."""
        from fastpasta_spark.functions.cache import release_tracked, tracked_count

        sc = self.spark.sparkContext
        if self.ctx.plant == "leak" and self._op == PLANT_OP:
            # an untracked DataFrame persist whose unpersist was lost
            self.spark.range(64).persist().count()
        left = tracked_count()
        release_tracked()
        empty = self.spark._jsparkSession.sharedState().cacheManager().isEmpty()
        still = sc._jsc.getPersistentRDDs().size() or (0 if empty else 1)
        self.spark.catalog.clearCache()
        rdds = sc._jsc.getPersistentRDDs()
        for i in list(rdds.keySet()):
            rdds.get(i).unpersist(False)
        return left + still + tracked_count()

    def run_op(self, k: int) -> OpResult:
        self._op = k
        try:
            res = self.op(k)
        except Exception as e:  # an op that raised is a failed op
            import traceback

            traceback.print_exc()
            res = OpResult(float("nan"), [f"raised {type(e).__name__}: {e}"])
        res.leaked = self.leak_check()
        return res

    def probe(self, layers: dict) -> list[OpResult]:
        """Traced run only: layer probes after the op loop. Returns any
        extra ops they ran (counted as attempted, never in the medians)."""
        return []


# ---------------------------------------------------------------------------
# the fused pass (operators.sequence), probed in checkall_batch's traced run
# ---------------------------------------------------------------------------


def _sequence_probe(w: Workload, docs, n_docs: int, layers: dict) -> None:
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    from fastpasta_spark.functions.cache import release_tracked
    from fastpasta_spark.operators import sequence as seq

    spark, ids = w.spark, frozenset(corpus.media_ids())
    pass_s = []
    for rep in range(3):
        t0 = _now()
        with w.t.span("sequence.pass", 1000 + rep):
            (seq.sequence_pass(docs, fused=True, valid_media_ids=ids)
             .write.format("noop").mode("overwrite").save())
        pass_s.append(_now() - t0)
    out = seq.sequence_pass(docs, fused=True, valid_media_ids=ids)
    with w.t.span("sequence.rows", 1003):
        rows = {r["row_type"]: r for r in out.groupBy("row_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("docs")).collect()}
    release_tracked()
    n = {t: int(rows[t]["n"]) if t in rows else 0 for t in ("v", "s", "k")}
    v_docs = int(rows["v"]["docs"]) if "v" in rows else 0
    layers["sequence.pass_s"] = tr.median(pass_s)
    layers["sequence.v_rows"] = n["v"]
    layers["sequence.s_rows"] = n["s"]
    layers["sequence.k_rows"] = n["k"]
    layers["sequence.rows_out_per_doc"] = sum(rows[t]["n"] for t in rows) / n_docs
    layers["sequence.clean_doc_ratio"] = 1.0 - v_docs / n_docs

    # the pass's Arrow kernel alone: pyarrow batches, no Spark (the way
    # scripts/screen_pass_bench.py drives it), one driver thread
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    tbl = ds.dataset(w.ctx.docs_path, format="parquet").to_table(
        columns=["doc_id", "spans"]).combine_chunks()
    batches = tbl.to_batches(max_chunksize=batch)
    times = []
    for _ in range(3):
        fn = seq._make_arrow_pass(fused=True, valid_media=SimpleNamespace(value=ids))
        c0 = time.process_time()
        for _b in fn(iter(batches)):
            pass
        times.append(time.process_time() - c0)
    kernel_cpu = tr.median(times)
    layers["sequence.kernel_docs_per_s"] = tbl.num_rows / kernel_cpu
    layers["sequence.kernel_share"] = (
        kernel_cpu * n_docs / tbl.num_rows / (layers["sequence.pass_s"] * w.ctx.cores))


# ---------------------------------------------------------------------------
# checkall_batch
# ---------------------------------------------------------------------------


class CheckAllBatch(Workload):
    name = "checkall_batch"

    def open(self):
        from fastpasta_spark.sources.synth import CorpusConfig, media_df

        self.ctx.docs_path = os.path.join(self.ctx.input_dir, "docs")
        self.backlog = os.path.join(self.ctx.input_dir, "backlog")
        self.docs = self.spark.read.parquet(self.ctx.docs_path)
        self.media = media_df(self.spark, CorpusConfig(n_media=corpus.N_MEDIA))
        self.n_docs = self.ctx.expected["n_rows"]
        self.first_metrics = None

    def op(self, k: int) -> OpResult:
        from fastpasta_spark.plans.check_all import check_all

        t, exp, layers = self.t, self.ctx.expected, {}
        t0 = _now()
        with t.span("check_all.call", k):
            res = check_all(self.docs, self.media)
        with t.span("check_all.violations", k):
            n_viol = res.violations.count()
        with t.span("check_all.metrics", k):
            mrows = res.metrics.collect()
        with t.span("check_all.verdicts", k):
            n_passed = res.passed.count()
        t_check = _now()

        # ---- untimed: checks against the pure-Python twin -------------
        problems = []
        if t.on:
            layers["cache.persist_bytes"] = sum(
                r["memoryUsed"] + r["diskUsed"]
                for r in self.ctx.store.get("/storage/rdd"))
            # the path this op's plan took: the fallback anti-joins the
            # media dim, the broadcast path checks refs inside the pass
            plan = res.violations._jdf.queryExecution().optimizedPlan().toString()
            layers["check_all.guard_broadcast"] = 0 if "LeftAnti" in plan else 1
        viol = res.violations
        if self.ctx.plant == "wrong_row" and k == PLANT_OP:
            viol = viol.unionByName(self.spark.createDataFrame(
                [("planted", 0, 0, "E0", "ERROR", "planted")], viol.schema))
        if corpus.spark_fingerprint(viol, VCOLS) != exp["violations"]:
            problems.append("violations differ from the twin")
        if n_viol != exp["violations"][0]:
            problems.append(f"violation count {n_viol}")
        metrics = {r["name"]: r["value"] for r in mrows}
        bad = [n for n, v in exp["metrics"].items() if metrics.get(n) != v]
        if bad:
            problems.append(f"metrics differ from the twin: {bad[:5]}")
        if self.first_metrics is None:
            self.first_metrics = metrics
        elif metrics != self.first_metrics:
            problems.append("metrics differ from the first op")
        if n_passed != exp["passed_rows"]:
            problems.append(f"verdict rows {n_passed}")
        layers["check_all.violation_rows"] = n_viol
        layers["check_all.docs_failed"] = metrics.get("docs_with_errors", 0.0)

        t1 = _now()
        with t.span("check_all.release", k):
            res.release()
        # the op clock, start to end, less only the check block
        return OpResult(_now() - t0 - (t1 - t_check), problems, layers=layers)

    def probe(self, layers: dict) -> list[OpResult]:
        from fastpasta_spark.functions.cache import release_tracked
        from fastpasta_spark.operators.sequence import sequence_pass
        from fastpasta_spark.plans.check_all import _uniqueness_branch

        _sequence_probe(self, self.docs, self.n_docs, layers)
        keys = (sequence_pass(self.docs, fused=True)
                .filter("row_type = 'k'").select("doc_id"))
        viol, _, _ = _uniqueness_branch(keys)
        with self.t.span("uniqueness.exchange", 1004):
            layers["uniqueness.dup_keys"] = viol.count()
        release_tracked()
        return _stream_probe(self, self.backlog, self.ctx.expected["stream_rows"], layers)


# ---------------------------------------------------------------------------
# streaming.validate_stream: drains probed in checkall_batch's traced run
# ---------------------------------------------------------------------------

STREAM_DRAINS = 3


def _source_log_files(ckpt: str) -> list[str]:
    """Base names of the files a streaming query's file source committed
    (its metadata log: a version line, then one JSON entry per file)."""
    import json

    log = os.path.join(ckpt, "sources", "0")
    names = []
    for batch in os.listdir(log):
        if batch.startswith("."):
            continue
        with open(os.path.join(log, batch)) as f:
            names += [os.path.basename(json.loads(line)["path"])
                      for line in f.read().splitlines()[1:] if line]
    return names


def _drain(w: Workload, k: int, backlog: str) -> OpResult:
    """One validate_stream availableNow drain of the backlog into fresh
    sink and checkpoint dirs; returns the op and its sink fingerprint."""
    from fastpasta_spark.streaming.validate_stream import validate_stream

    t = w.t
    base = os.path.join(w.ctx.tmp, f"stream-op{k}")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    t0 = _now()
    with t.span("stream.start", k):
        q = validate_stream(w.spark, backlog, out, ckpt, media=w.media)
    with t.span("stream.drain", k):
        q.awaitTermination()
    res = OpResult(_now() - t0, [])
    res.groups = (str(q.runId),)
    if q.exception() is not None:
        res.problems.append(f"query failed: {q.exception()}")
    ep = [{"trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
           "addbatch_s": p.durationMs.get("addBatch", 0) / 1000.0,
           "rows": p.numInputRows}
          for p in q.recentProgress if p.numInputRows > 0]
    # every backlog file in the query's file-source log exactly once
    # (numInputRows would not do: a batch that re-reads its input, as the
    # E110 anti-join fallback does, counts its rows twice)
    if sorted(_source_log_files(ckpt)) != sorted(os.listdir(backlog)):
        res.problems.append("drain did not read every backlog file once")
    sink = w.spark.read.parquet(os.path.join(out, "violations")).select(VCOLS)
    res.layers = {"epochs": ep, "sink_bytes": _dir_bytes(out),
                  "fingerprint": corpus.spark_fingerprint(sink, VCOLS)}
    shutil.rmtree(base, ignore_errors=True)
    return res


def _stream_probe(w: Workload, backlog: str, n_docs: int, layers: dict) -> list[OpResult]:
    """Drains of the corrupt-heavy backlog (small batches, the FSM slow
    path, a media broadcast per epoch, parquet sink writes). Each drain
    is an op: its sink must hold exactly the batch
    split_sequence_output(sequence_pass(...)) violation multiset over the
    same files, each row once."""
    from fastpasta_spark import schema as S
    from fastpasta_spark.functions.cache import release_tracked
    from fastpasta_spark.operators.sequence import sequence_pass, split_sequence_output

    drains = []
    for i in range(STREAM_DRAINS):
        w._op = 2000 + i
        l0 = os.getloadavg()[0]
        r = _drain(w, 2000 + i, backlog)
        r.leaked = w.leak_check()
        r.load, r.traced = [round(l0, 2), round(os.getloadavg()[0], 2)], True
        drains.append(r)
    docs = w.spark.read.schema(S.DOCS_SCHEMA).parquet(backlog)
    viol, _ = split_sequence_output(sequence_pass(
        docs, fused=True, valid_media_ids=frozenset(corpus.media_ids())))
    want = corpus.spark_fingerprint(viol, VCOLS)
    release_tracked()
    for r in drains:
        if r.layers["fingerprint"] != want:
            r.problems.append("sink rows differ from the batch pass")
    warm = drains[1:]  # the first drain is the stream path's cold start
    eps = [e for r in warm for e in r.layers["epochs"]]
    layers["stream.start_s"] = w.t.durations("stream.start", [2000])[0]
    layers["stream.drain_s"] = tr.median([r.wall for r in warm])
    layers["stream.epoch_p50_s"] = tr.median([e["trigger_s"] for e in eps])
    layers["stream.addbatch_p50_s"] = tr.median([e["addbatch_s"] for e in eps])
    layers["stream.epoch_tail_s"] = tr.tail([e["trigger_s"] for e in eps])
    layers["stream.epochs"] = tr.median([len(r.layers["epochs"]) for r in warm])
    layers["stream.rows_per_epoch"] = n_docs / max(1, layers["stream.epochs"])
    layers["stream.sink_bytes"] = tr.median([r.layers["sink_bytes"] for r in warm])
    return drains


# ---------------------------------------------------------------------------
# dedup_nearpairs
# ---------------------------------------------------------------------------


class DedupNearPairs(Workload):
    name = "dedup_nearpairs"
    # a warm op takes ~6 s; the median of six rides out a stretch of
    # slow ops that four could not
    min_warm = 6

    def open(self):
        from pyspark.sql import functions as F

        d = self.ctx.input_dir
        self.ctx.docs_path = os.path.join(d, "documents")
        self.docs = self.spark.read.parquet(self.ctx.docs_path)
        self.emb = self.spark.read.parquet(os.path.join(d, "embeddings"))
        self.queries = self.emb.filter(F.col("vec_id") < corpus.N_QUERIES)
        self.n_docs = self.ctx.expected["n_rows"]
        self.first_minhash = None

    def op(self, k: int) -> OpResult:
        from fastpasta_spark.functions.cache import release_tracked
        from fastpasta_spark.operators.dedup import jaccard_pairs, minhash_near_duplicates
        from fastpasta_spark.operators.similarity import cosine_topk

        t, exp, layers = self.t, self.ctx.expected, {}
        t0 = _now()
        with t.span("dedup.jaccard", k):
            jac = jaccard_pairs(self.docs, threshold=0.1, within_col="source",
                                max_df=200).collect()
        with t.span("dedup.minhash", k):
            mh = minhash_near_duplicates(self.docs, threshold=0.3).collect()
        with t.span("similarity.cosine_topk", k):
            cos_df = cosine_topk(self.emb, self.queries, k=5)
            cos = cos_df.collect()
        with t.span("dedup.release", k):
            release_tracked()
        wall = _now() - t0

        # ---- untimed: checks against the DuckDB oracle ------------------
        problems = []
        if self.ctx.plant == "wrong_row" and k == PLANT_OP:
            jac = jac + [jac[0]]
        got = corpus.py_fingerprint(
            (r["doc_a"], r["doc_b"], round(r["jaccard"] * 1e6)) for r in jac)
        if got != exp["jaccard"]:
            problems.append("jaccard pairs differ from the DuckDB oracle")
        got_cos = sorted([int(r["query_id"]), int(r["rank"]), int(r["neighbor_id"]),
                          round(r["sim"] * 1e4)] for r in cos)
        want = exp["cosine"]
        if (len(got_cos) != len(want) or any(
                g[:3] != w[:3] or abs(g[3] - w[3]) > 1
                for g, w in zip(got_cos, want))):
            problems.append("cosine top-k differs from the DuckDB oracle")
        fp = corpus.py_fingerprint(_rounded(tuple(r)) for r in mh)
        if self.first_minhash is None:
            self.first_minhash = fp
        elif fp != self.first_minhash:
            problems.append("minhash pairs differ from the first op")
        layers["dedup.jaccard_pairs_out"] = len(jac)
        layers["dedup.minhash_pairs_out"] = len(mh)
        if t.on:
            # the query-matrix path scores one corpus scan with no join;
            # the fallback joins queries to the corpus
            plan = cos_df._jdf.queryExecution().optimizedPlan().toString()
            layers["similarity.query_matrix_path"] = 0 if "Join" in plan else 1
        return OpResult(wall, problems, layers=layers)


WORKLOADS = {w.name: w for w in (CheckAllBatch, DedupNearPairs)}
