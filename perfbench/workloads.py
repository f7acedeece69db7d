"""The benchmark's workloads.

Each workload is a closed loop with one client: an op is one call (or
one fixed chain of calls) whose caller waits for its rows, and the
next op starts when the previous one returned. Inputs come from
``sources.synth`` seeded by the run's ``--seed``; the engine sees only
the generated inputs. Only public entry points are called:
``build_index``, ``InvertedIndex.search`` / ``search_join``,
``bm25_scan_topk``, ``delete_documents`` and the three dedup operators.

Why each workload exists, and which reported metrics it carries, is
written down in ``perfbench/README.md``.
"""

from __future__ import annotations

import operator
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import checks
from perfbench.host import tree_cpu_s
from perfbench.tracing import KernelReplay, SpanStats, Tracer

K = 10
#: size of the reference job (see Run.reference_cpu_s), per partition:
#: numpy rows, rounds over them, and key/value pairs shuffled
REF_ROWS, REF_ROUNDS, REF_PAIRS = 200_000, 10, 50_000
#: CPU seconds of one reference job on the reference host when the
#: benchmark was defined (README); turns ``setup_s`` into seconds
REF_NOMINAL_CPU_S = 2.6
#: batch index of the first warm-up batch; op batches count from 1
WARMUP = 10_000

#: per-workload input sizes; ``tiny`` is the self-test size
SIZES = {
    "query": {
        "full": dict(n_docs=3000, n_queries=100, shard_size=375, block_size=128,
                     term_buckets=8, shards_per_batch=8, n_delete=30, oracle_sample=10,
                     warmup_batches=5, refs_per_op=1, replays=2, cost_ops=5),
        "tiny": dict(n_docs=400, n_queries=20, shard_size=50, block_size=16,
                     term_buckets=4, shards_per_batch=4, n_delete=4, oracle_sample=5,
                     warmup_batches=1, refs_per_op=1, replays=1, cost_ops=1),
    },
    "dedup": {
        "full": dict(n_docs=600, warmup_docs=600, n_hashes=8, band_size=4,
                     max_bucket_size=2000, max_hamming=2, refs_per_op=2, cost_ops=2),
        "tiny": dict(n_docs=200, warmup_docs=100, n_hashes=8, band_size=4,
                     max_bucket_size=2000, max_hamming=2, refs_per_op=1, cost_ops=1),
    },
}


@dataclass
class Run:
    """State of one benchmark run (one process, one workload)."""

    spark: object
    tracer: Tracer
    work: Path
    seed: int
    seconds: float
    sizes: dict
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    persisted_rdds: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)   # reported end-to-end metrics
    layer: dict = field(default_factory=dict)    # per-layer metrics
    e2e: dict = field(default_factory=dict)      # gated end-to-end metrics and more
    setup_end: float = 0.0
    rss_samples: int = 0
    master: str = ""
    jvm_pid: int = 0
    op_times: list = field(default_factory=list)  # (wall s, CPU s) per op
    ref_cpu: list = field(default_factory=list)   # reference-job CPU s before each op
    stages: list = field(default_factory=list)    # traced runs: one row per Spark stage

    def end_setup(self) -> None:
        """Mark the end of set-up: the next op is the first timed one."""
        self.setup_end = time.perf_counter()
        self.e2e["setup_cpu_s"] = self.cpu_s()  # the JVM and this thread started with the run
        self.reference_cpu_s()  # warm-up of the reference job itself
        self.ref_cpu.clear()

    def reference_cpu_s(self) -> None:
        """Run a fixed reference job ``refs_per_op`` times and record the
        CPU seconds of each. Run before every op, it measures how fast the
        host is at that moment; op and set-up costs are reported relative
        to it (README, "Relative cost"). It is a plain RDD job (numpy in
        the Python workers, a pickled shuffle through the JVM, a collect):
        no ``spark.sql`` setting of the engine's session reaches it, so a
        change to the session's SQL configuration moves the op and not the
        reference. Workloads with few ops per run take several samples per
        op so that one outlier cannot move the median."""
        sc = self.spark.sparkContext
        parts = sc.defaultParallelism
        for _ in range(self.sizes["refs_per_op"]):
            c0 = self.cpu_s()
            (sc.parallelize(range(parts), parts)
             .mapPartitions(_reference_partition)
             .reduceByKey(operator.add, parts).collect())
            self.ref_cpu.append(self.cpu_s() - c0)

    def finish_costs(self, op_cpu: list[float]) -> None:
        """Gated cost metrics from the per-op CPU seconds and the
        reference jobs run before the ops. Per op: CPU seconds over the
        first ``cost_ops`` ops (total / count). Every run measures at
        least that many, and the same ones: a search batch's CPU cost
        still falls through a run (about 1.4 CPU-s for the first, 1.0-1.1
        after six), so a mean over all ops would be lower on a quiet host,
        which fits more ops into ``--seconds``. Per reference job: the
        median, so that one slow sample cannot move it. ``op_cpu_rel`` is
        their ratio;
        ``setup_s`` is the set-up's CPU seconds scaled to reference-host
        speed (``REF_NOMINAL_CPU_S / ref``)."""
        ref = statistics.median(self.ref_cpu)
        op_cpu = op_cpu[:self.sizes["cost_ops"]]
        self.e2e["op_cpu_s"] = statistics.fmean(op_cpu)
        self.e2e["ref_cpu_s"] = ref
        self.e2e["op_cpu_rel"] = self.e2e["op_cpu_s"] / ref
        self.e2e["setup_s"] = self.e2e["setup_cpu_s"] * REF_NOMINAL_CPU_S / ref
        self.put("op_cpu_s", self.e2e["op_cpu_s"], "s", len(op_cpu))
        self.put("ref_cpu_s", ref, "s", len(self.ref_cpu))
        self.put("setup_cpu_s", self.e2e["setup_cpu_s"], "s", 1)

    def cpu_s(self) -> float:
        """CPU seconds so far of the JVM with its Python workers plus this
        process's main thread (which plans queries): take deltas around
        an op. Unlike wall time it leaves out CPU stolen by other tenants."""
        return tree_cpu_s(self.jvm_pid) + time.thread_time()

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def call(self, what: str, fn):
        """Run one timed call; a raised call counts as failed and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # a failing op must not abort the run
            self.fail(what, f"{type(exc).__name__}: {exc}"[:300])
            return None

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {why}")

    def note_cache(self) -> None:
        """Persisted-RDD count after an op returned (leaks show as growth)."""
        self.persisted_rdds.append(int(self.spark.sparkContext._jsc.getPersistentRDDs().size()))

    def put(self, name: str, value: float, unit: str, n: int) -> None:
        self.detail[name] = {"value": value, "unit": unit, "n": n}


def _reference_partition(_):
    """The reference job's per-partition work: fixed numpy work, then
    ``REF_PAIRS`` pickled key/value pairs for the JVM to shuffle."""
    x = np.arange(REF_ROWS, dtype=np.float64)
    for _ in range(REF_ROUNDS):
        x = np.sqrt(x * x + 1.0) * np.sin(x)
    keys = np.arange(REF_PAIRS) % 64
    vals = np.resize(x, REF_PAIRS)
    return zip(keys.tolist(), vals.tolist())


def dir_stats(path: Path) -> tuple[int, int]:
    """(file count, bytes) of every regular file under ``path``."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


def _phase_stats(run: Run, jobs, stages, prefix: str, name: str) -> None:
    st = SpanStats(jobs, stages, run.tracer.groups(prefix))
    run.layer[f"{name}.shuffle_write_mb"] = st.mb("write_b")
    run.layer[f"{name}.spill_mb"] = st.mb("spill_b")
    run.layer[f"{name}.task_skew"] = st.skew()


# --- query: the read path over a built and churned index ------------------------

def query_batch(seed: int, i: int, n: int) -> list[tuple[int, str]]:
    from pylate_spark.sources.synth import synth_queries_pandas

    pdf = synth_queries_pandas(n, seed=seed * 7919 + i)
    return list(zip(pdf["query_id"].astype(int).tolist(), pdf["text"].tolist()))


def setup_query(run: Run) -> dict:
    from pylate_spark import storage
    from pylate_spark.config import IndexConfig
    from pylate_spark.plans import build, maintenance
    from pylate_spark.plans.build import build_index
    from pylate_spark.plans.query import InvertedIndex
    from pylate_spark.sources.synth import synth_pages

    s, tr, sp = run.sizes, run.tracer, run.spark
    for mod in (build, maintenance):
        tr.wrap(mod, "_stage_corpus", "build.stage")
        tr.wrap(mod, "_build_one_batch", "build.batch")
        tr.wrap(mod, "_finalize", "build.finalize")
    tr.wrap(storage, "write_text", "storage.write_text")  # manifest commits

    idx_dir = run.work / "index"
    cfg = IndexConfig(shard_size=s["shard_size"], block_size=s["block_size"],
                      term_buckets=s["term_buckets"])
    pages = synth_pages(sp, s["n_docs"], seed=run.seed)
    t0 = time.perf_counter()
    with tr.span("build.index"):
        manifest = build_index(sp, pages, str(idx_dir), config=cfg,
                               shards_per_batch=s["shards_per_batch"])
    build_s = time.perf_counter() - t0
    n_files, n_bytes = dir_stats(idx_dir)

    t0 = time.perf_counter()
    with tr.span("query.open"):
        idx = InvertedIndex(sp, str(idx_dir))
    run.layer["query.open_s"] = time.perf_counter() - t0
    # warm-up batches (never op batches): Python workers, the JIT and the
    # handle's term-stats cache; CPU per batch settles after about five
    with tr.span("query.warmup"):
        for w in range(s["warmup_batches"]):
            idx.search(query_batch(run.seed, WARMUP + w, s["n_queries"]), k=K).collect()

    run.put("build_docs_per_s", s["n_docs"] / build_s, "1/s", 1)
    run.put("index_bytes_per_doc", n_bytes / s["n_docs"], "B", 1)
    run.layer.update({
        "build.files": n_files,
        "segments.bytes_per_posting": manifest["bytes"] / max(manifest["n_postings"], 1),
    })
    return {"idx": idx, "idx_dir": str(idx_dir)}


def run_query(run: Run) -> None:
    from pylate_spark.functions.tokenize import tokenize_py

    state = setup_query(run)
    run.end_setup()
    s, tr, idx = run.sizes, run.tracer, state["idx"]
    seen_terms = {t for w in range(s["warmup_batches"])
                  for _, q in query_batch(run.seed, WARMUP + w, s["n_queries"])
                  for t in tokenize_py(q, idx.config.token_pattern)}
    ops: list[dict] = []
    t_loop = time.perf_counter()
    while time.perf_counter() - t_loop < run.seconds or len(ops) < s["cost_ops"]:
        i = len(ops) + 1
        qrows = query_batch(run.seed, i, s["n_queries"])
        terms = {t for _, q in qrows for t in tokenize_py(q, idx.config.token_pattern)}
        tr.op = i
        rec = {"i": i, "qrows": qrows, "new_terms": len(terms - seen_terms)}
        seen_terms |= terms
        run.reference_cpu_s()
        c0, t0 = run.cpu_s(), time.perf_counter()

        def search():
            with tr.span("query.plan"):
                df = idx.search(qrows, k=K, mode="auto")
            with tr.span("query.exec"):
                return df.collect()

        with tr.span("query.search"):
            rec["rows"] = run.call(f"search op {i}", search)
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = run.cpu_s() - c0
        ops.append(rec)
        run.note_cache()
    tr.op = None

    _check_searches(run, idx, ops)
    search_s = [o["s"] for o in ops]
    run.e2e["op_p50_s"] = statistics.median(search_s)
    run.finish_costs([o["cpu_s"] for o in ops])
    run.op_times = [(o["s"], o["cpu_s"]) for o in ops]
    run.put("search_p50_s", statistics.median(search_s), "s", len(ops))
    run.put("search_p90_s", float(np.percentile(search_s, 90)), "s", len(ops))
    run.put("search_qps", len(ops) * s["n_queries"] / sum(search_s), "1/s", len(ops))
    run.layer["query.df_lookup_terms"] = float(np.mean([o["new_terms"] for o in ops]))
    if run.traced:
        _traced_query_extras(run, state, ops)


def _expected(run: Run, idx, batches: list[list[tuple[int, str]]]) -> list[dict]:
    """``mode="exhaustive"`` rows for several batches in ONE search call
    (query ids offset per batch; results are per query, so batching
    does not change them) → one query_id → ranking dict per batch."""
    n_q = run.sizes["n_queries"]
    combined = [(b * n_q + q, t) for b, rows in enumerate(batches) for q, t in rows]
    got = checks.ranked(idx.search(combined, k=K, mode="exhaustive").collect())
    return [{q: got.get(b * n_q + q, []) for q, _ in rows} for b, rows in enumerate(batches)]


def _check_searches(run: Run, idx, ops) -> None:
    """Every batch against ``mode="exhaustive"``, a seeded sample of each
    batch against the numpy ``OracleIndex``."""
    from pylate_spark.oracle import OracleIndex
    from pylate_spark.sources.synth import synth_pages_pandas

    wants = _expected(run, idx, [o["qrows"] for o in ops])
    texts = synth_pages_pandas(run.sizes["n_docs"], seed=run.seed)["text"].tolist()
    oracle = OracleIndex(list(enumerate(texts)))  # docid == url rank == synth index
    rng = np.random.default_rng(run.seed + 1)
    for o, want in zip(ops, wants):
        if o["rows"] is None:
            continue  # already counted as failed
        got = checks.ranked(o["rows"])
        if not checks.batch_ok(got, want, list(want)):
            run.fail(f"search op {o['i']}", "differs from mode='exhaustive'")
            continue
        n = min(run.sizes["oracle_sample"], len(o["qrows"]))
        for j in rng.choice(len(o["qrows"]), n, replace=False).tolist():
            q, text = o["qrows"][j]
            ora = [(r, d, sc) for r, (d, sc) in enumerate(oracle.search(text, k=K), 1)]
            if not checks.same_ranking(got.get(q, []), ora):
                run.fail(f"search op {o['i']}", f"query {q} differs from OracleIndex")
                break


def _traced_query_extras(run: Run, state, ops) -> None:
    """Traced runs only (they do not fit the untraced run's time budget,
    see README): the kernel/codec replay on the measured batches, the
    tokenizer rate, then one delete and the two other query paths on
    the churned index, each checked."""
    from pylate_spark.plans.maintenance import delete_documents
    from pylate_spark.plans.query import InvertedIndex, bm25_scan_topk

    s, tr, sp = run.sizes, run.tracer, run.spark
    replay = KernelReplay()
    n_rep = min(len(ops), s["replays"])
    for o in ops[:n_rep]:
        replay.replay(sp, state["idx_dir"], o["qrows"], K)
    c, t = replay.counts, replay.times
    run.layer.update({
        "wand.kernel_s": t["auto"] / n_rep,
        "wand.kernel_cascade_s": t["cascade"] / n_rep,
        "wand.kernel_exhaustive_s": t["exhaustive"] / n_rep,
        "wand.postings_matched": c["postings_matched"] / n_rep,
        "wand.postings_decoded": c["postings_decoded"] / n_rep,
        "wand.decode_ratio": c["postings_decoded"] / max(c["postings_matched"], 1),
        "wand.blocks_matched": c["blocks_matched"] / n_rep,
        "wand.blocks_decoded": c["blocks_decoded"] / n_rep,
        "wand.blocks_skipped": max(c["blocks_matched"] - c["blocks_decoded"], 0) / n_rep,
        "wand.queries_cascade": c["queries_cascade"] / n_rep,
        "wand.queries_exhaustive": c["queries_exhaustive"] / n_rep,
        "codec.decode_ns_per_posting": 1e9 * t["decode"] / max(c["codec_postings"], 1),
        "codec.encode_ns_per_posting": 1e9 * t["encode"] / max(c["codec_postings"], 1),
    })

    rng = np.random.default_rng(run.seed)
    deleted = sorted(int(d) for d in rng.choice(s["n_docs"], s["n_delete"], replace=False))
    docs = _live_corpus(run, deleted)
    _tokenize_rate(run, docs.withColumnRenamed("docid", "id"), "id")
    t0 = time.perf_counter()
    with tr.span("maint.delete"):
        run.call("delete", lambda: delete_documents(sp, state["idx_dir"], deleted))
    run.put("delete_p50_s", time.perf_counter() - t0, "s", 1)
    run.note_cache()
    idx = InvertedIndex(sp, state["idx_dir"])
    first = ops[0]["qrows"]
    qdf = sp.createDataFrame(pd.DataFrame(first, columns=["query_id", "text"]))
    for name, fn in (
        ("join", lambda: idx.search_join(qdf, k=K).collect()),
        ("scan", lambda: bm25_scan_topk(docs, qdf, k=K).collect()),
    ):
        t0 = time.perf_counter()
        with tr.span(f"{name}.exec"):
            rows = run.call(name, fn)
        run.put(f"{name}_p50_s", time.perf_counter() - t0, "s", 1)
        run.note_cache()
        if rows is not None:
            (want,) = _expected(run, idx, [first])
            if not checks.batch_ok(checks.ranked(rows), want, list(want)):
                run.fail(name, "differs from search(mode='exhaustive') on the same batch")
    run.layer.update({
        "maint.tombstones": len(deleted),
        "storage.manifest_commits": len(tr.durations("storage.write_text")),
        "storage.index_mb": dir_stats(Path(state["idx_dir"]))[1] / 1e6,
    })


def _live_corpus(run: Run, deleted: list[int]):
    """The documents left after ``deleted`` as a parquet table
    ``(docid, text)`` (docid == url rank == synth doc index)."""
    from pylate_spark.sources.synth import synth_pages_pandas

    pdf = synth_pages_pandas(run.sizes["n_docs"], seed=run.seed)
    pdf = pd.DataFrame({"docid": np.arange(len(pdf), dtype=np.int64), "text": pdf["text"]})
    pdf = pdf[~pdf["docid"].isin(deleted)]
    path = str(run.work / "corpus")
    run.spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return run.spark.read.parquet(path)


def _tokenize_rate(run: Run, docs, id_col: str) -> None:
    """``terms_long`` over the corpus table into Spark's noop sink."""
    from pylate_spark.functions.tokenize import terms_long

    n = docs.count()
    t0 = time.perf_counter()
    with run.tracer.span("tokenize.noop"):
        terms_long(docs, id_col=id_col, text_col="text").write.format("noop").mode("overwrite").save()
    run.layer["tokenize.docs_per_s"] = n / (time.perf_counter() - t0)


def query_layers_from_log(run: Run, jobs, stages) -> None:
    tr, L = run.tracer, run.layer
    L["build.stage_s"] = sum(tr.durations("build.stage"))
    L["build.batch_s"] = sum(tr.durations("build.batch"))
    L["build.finalize_s"] = sum(tr.durations("build.finalize"))
    L["build.jobs"] = SpanStats(jobs, stages, tr.groups("build.")).jobs
    for phase in ("stage", "batch", "finalize"):
        _phase_stats(run, jobs, stages, f"build.{phase}", f"build.{phase}")
    L["maint.delete_s"] = sum(tr.durations("maint.delete"))
    n_ops = max(len(tr.durations("query.search")), 1)
    L["query.plan_s"] = statistics.median(tr.durations("query.plan") or [0.0])
    L["query.exec_s"] = statistics.median(tr.durations("query.exec") or [0.0])
    q = SpanStats(jobs, stages, tr.groups("query.plan") | tr.groups("query.exec"))
    L["query.scan_mb"] = q.mb("input_b") / n_ops
    L["query.shuffle_mb"] = q.mb("write_b") / n_ops
    ex = SpanStats(jobs, stages, tr.groups("query.exec"))
    L["query.kernel_stage_s"] = statistics.median(
        [SpanStats(jobs, stages, {g}).heaviest_s() for g in tr.groups("query.exec")] or [0.0])
    L["query.kernel_task_skew"] = ex.skew()
    L["query.jobs_per_op"] = q.jobs / n_ops
    j = SpanStats(jobs, stages, tr.groups("join.exec"))
    L["join.exec_s"] = sum(tr.durations("join.exec"))
    L["join.shuffle_mb"] = j.mb("write_b")
    L["join.spill_mb"] = j.mb("spill_b")
    sc = SpanStats(jobs, stages, tr.groups("scan.exec"))
    L["scan.exec_s"] = sum(tr.durations("scan.exec"))
    L["scan.input_mb"] = sc.mb("input_b")


# --- dedup: the corpus operators, no index ------------------------------------

def _dedup_corpus(run: Run, i: int, n_docs: int):
    """Materialise op ``i``'s corpus as a parquet table; its seed was
    never used before in this session (see README, fresh-seed rule)."""
    from pylate_spark.sources.synth import synth_pages_pandas

    path = run.work / f"dedup_corpus_{i}"
    pdf = synth_pages_pandas(n_docs, seed=run.seed * 7919 + i)
    pdf = pd.DataFrame({"doc_id": np.arange(len(pdf), dtype=np.int64), "text": pdf["text"]})
    run.spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(path))
    return run.spark.read.parquet(str(path))


def _dedup_pass(run: Run, corpus, i: int, span: str = "dedup") -> dict:
    """LSH pairs, SimHash pairs, then clusters over the SimHash pairs;
    each call timed on its own, each output collected."""
    from pylate_spark.operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        simhash_near_dup_pairs,
    )

    s, tr = run.sizes, run.tracer
    rec = {"i": i, "clusters": None, "clusters_s": 0.0, "cpu_s": 0.0}

    def timed(name: str, fn):
        c0, t0 = run.cpu_s(), time.perf_counter()
        with tr.span(f"{span}.{name}"):
            rec[name] = run.call(f"{name} op {i}", fn)
        rec[f"{name}_s"] = time.perf_counter() - t0
        rec["cpu_s"] += run.cpu_s() - c0

    timed("lsh", lambda: lsh_candidate_pairs(
        corpus, n_hashes=s["n_hashes"], band_size=s["band_size"],
        max_bucket_size=s["max_bucket_size"]).toPandas())
    timed("simhash", lambda: simhash_near_dup_pairs(
        corpus, max_hamming=s["max_hamming"]).toPandas())
    if rec["simhash"] is not None:
        pairs_df = run.spark.createDataFrame(rec["simhash"][["doc_a", "doc_b"]])
        timed("clusters", lambda: dedup_clusters(pairs_df).toPandas())
    rec["s"] = rec["lsh_s"] + rec["simhash_s"] + rec["clusters_s"]
    return rec


def _check_dedup(run: Run, rec: dict) -> None:
    lsh, sim, cl, i = rec["lsh"], rec["simhash"], rec["clusters"], rec["i"]
    if lsh is not None and not checks.pairs_ok(lsh):
        run.fail(f"lsh op {i}", "pairs not distinct or not doc_a < doc_b")
    if sim is not None and not checks.pairs_ok(sim, run.sizes["max_hamming"]):
        run.fail(f"simhash op {i}", "pairs not distinct, unordered or beyond max_hamming")
    if cl is not None and not checks.clusters_ok(cl, sim):
        run.fail(f"clusters op {i}", "labels differ from a union-find over the pairs")


def run_dedup(run: Run) -> None:
    s, tr = run.sizes, run.tracer
    # warm-up pass on a corpus of its own seed: Python workers, JIT and
    # code generation for the three plans; not counted, not timed
    _dedup_pass(run, _dedup_corpus(run, 0, s["warmup_docs"]), 0, span="warmup")
    if run.failed:
        raise RuntimeError("dedup warm-up failed: " + "; ".join(run.failures))
    run.attempted = 0
    corpus = _dedup_corpus(run, 1, s["n_docs"])
    run.end_setup()
    ops: list[dict] = []
    t_loop = time.perf_counter()
    while True:
        tr.op = len(ops) + 1
        run.reference_cpu_s()
        rec = _dedup_pass(run, corpus, tr.op)
        run.note_cache()
        _check_dedup(run, rec)
        ops.append(rec)
        if time.perf_counter() - t_loop >= run.seconds and len(ops) >= s["cost_ops"]:
            break
        corpus = _dedup_corpus(run, len(ops) + 1, s["n_docs"])
    tr.op = None

    op_s = [o["s"] for o in ops]
    run.e2e["op_p50_s"] = statistics.median(op_s)
    run.finish_costs([o["cpu_s"] for o in ops])
    run.op_times = [(o["s"], o["cpu_s"]) for o in ops]
    for name, detail in (("lsh", "lsh_pairs_s"), ("simhash", "simhash_pairs_s"),
                         ("clusters", "clusters_s")):
        vals = [o[f"{name}_s"] for o in ops]
        run.put(detail, statistics.median(vals), "s", len(vals))
        run.layer[f"dedup.{name}_s"] = statistics.median(vals)
    first = ops[0]
    run.layer["dedup.lsh.candidates"] = len(first["lsh"]) if first["lsh"] is not None else -1
    run.layer["dedup.simhash.pairs"] = len(first["simhash"]) if first["simhash"] is not None else -1
    run.layer["dedup.clusters.kept"] = (
        int(first["clusters"]["keep"].sum()) if first["clusters"] is not None else -1)
    if run.traced:
        _tokenize_rate(run, run.spark.read.parquet(str(run.work / "dedup_corpus_1")), "doc_id")


def dedup_layers_from_log(run: Run, jobs, stages) -> None:
    tr = run.tracer
    for name in ("lsh", "simhash", "clusters"):
        _phase_stats(run, jobs, stages, f"dedup.{name}", f"dedup.{name}")
    n_ops = max(len(tr.durations("dedup.clusters")), 1)
    run.layer["dedup.clusters.jobs"] = SpanStats(jobs, stages, tr.groups("dedup.clusters")).jobs / n_ops


WORKLOADS = {
    "query": (run_query, query_layers_from_log),
    "dedup": (run_dedup, dedup_layers_from_log),
}
