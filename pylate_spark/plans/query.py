"""Query planning: the scatter-gather BM25 top-k job.

Entry points:

- :class:`InvertedIndex` — search a built on-disk index. The plan is
  the Spark translation of the reference's retrieval lifecycle
  (``/root/reference/pylate/retrieve/colbert.py:91-120`` and SURVEY
  §3.1-3.2): queries are normalized and batched driver-side (the
  reference batches 50/probe, ``retrieve/base.py:98-105``), the
  segment scan is pruned to the query terms' hash buckets (partition
  pruning — the analog of probing only ``ncells`` IVF cells), matched
  rows are grouped per shard for the block-max cascade kernel, and
  per-shard top-k heaps are merged by a global window — the analog of
  the reference's final descending sort + truncate
  (``index_storage.py:121-127``).

- :func:`bm25_scan_topk` — index-free BM25 over any (id, text)
  DataFrame, expressed purely in native DataFrame ops (tokenize UDF
  excepted). Used as the SQL-comparable correctness surface and as the
  "cold query" path.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.functions.bm25 import bm25_score_col, idf_np
from pylate_spark.functions.predicates import in_list
from pylate_spark.functions.tokenize import (
    TOKEN_PATTERN,
    make_tokenize_udf,
    terms_long,
    tokenize_py,
)
from pylate_spark.plans.build import IndexPaths, active_dir, load_manifest
from pylate_spark.plans.wand import score_shard

def _result_schema(round_to: int | None) -> T.StructType:
    """Kernel output schema: float32 scores by default; float64 when
    ``round_to`` is set (rounded-double emit for exact cross-engine
    value-hash comparison — see plans/wand.score_shard)."""
    score_t = T.DoubleType() if round_to is not None else T.FloatType()
    return T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("docid", T.LongType(), False),
            T.StructField("score", score_t, False),
        ]
    )


def _ranked_schema(round_to: int | None) -> str:
    st = "double" if round_to is not None else "float"
    return f"query_id long, rank int, docid long, score {st}"

#: number of live tombstones past which search() advises compaction —
#: the broadcast stays cheap, but query-time filtering and stats drift
#: make a physical rewrite worthwhile (reference analog: the chunk
#: rewrite in index_updater.py:414-460)
TOMBSTONE_COMPACT_ADVICE = 1_000_000

#: subset allow-lists above this size are shipped to executors via a
#: broadcast instead of riding the task closure (see search())
SUBSET_BROADCAST_THRESHOLD = 4096

#: query batches whose planning payload (total (query, term) pairs +
#: idf entries) exceeds this ride a broadcast instead of the kernel
#: closure — the closure is re-pickled into EVERY task, so a 10^5-term
#: batch in the closure multiplies driver→task traffic by the task
#: count; a broadcast ships it to each executor once (same treatment
#: the subset allow-list got)
QUERYSET_BROADCAST_THRESHOLD = 4096

def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k merge: score desc, docid asc tie-break.

    Single window ON PURPOSE — the bounded-merge work is Catalyst's:
    for a row_number window filtered by ``rank <= k``, Spark inserts
    ``WindowGroupLimit [Partial]`` BELOW the final exchange (plan
    evidence in PLANS.md §1), so each map partition forwards at most k
    rows per query and the per-query reducer sees partitions·k rows —
    never shards·k (the 10^6-shard stopword hazard) nor the full
    candidate set on the scan path. Round 3 tried two hand-rolled
    pre-reductions (a windowed (query, docid mod g) level and a
    mapInPandas partition-local top-k); both measured as pure overhead
    over the built-in partial (+2–5.5 s and +1 s per 2000-query batch
    at 3.2M docs — profile_query.py) and were removed. A plan-shape
    test pins the WindowGroupLimit so a regression is caught."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("docid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "docid", "score")
    )


class InvertedIndex:
    """Handle to a built index directory (see plans/build.py layout)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.manifest = load_manifest(self.paths)
        if not self.manifest.get("finalized"):
            raise ValueError(f"index at {index_dir} is not finalized")
        self.config = IndexConfig.from_dict(self.manifest["config"])
        self.n_docs = int(self.manifest["n_docs"])
        self.avgdl = float(self.manifest["avgdl"])
        # driver-side caches for repeated searches on one handle; a
        # mutated index (add/delete/compact) needs a fresh InvertedIndex
        # (the reference reloads its searcher after IndexUpdater runs)
        # state dirs resolve through the manifest (versioned rewrites
        # flip these pointers atomically; see plans/build.active_dir)
        self._seg = self.spark.read.parquet(active_dir(self.paths, self.manifest, "segments"))
        self._df_cache: dict[str, int | None] = {}
        # tombstones are loaded ONCE per handle and broadcast: they are
        # re-used by every search/doc_vectors call, and a broadcast ships
        # them to executors once instead of pickling them into every
        # task closure (driver→task serialization grows with churn)
        tomb = self._load_tombstones()
        self._tomb_bc = (
            self.spark.sparkContext.broadcast(tomb) if tomb is not None else None
        )
        #: one live large-subset broadcast per handle (see search())
        self._subset_bc = None
        #: one live large-query-batch broadcast per handle (see search())
        self._qset_bc = None
        #: last search()'s kernel, for lazy closure-size observability
        self._last_kernel = None
        #: queries are always tokenized with the INDEX's persisted
        #: token definition (IndexConfig.tokenizer) — a query must see
        #: the terms the build wrote
        self._tokenize_udf = make_tokenize_udf(self.config.token_pattern)
        if tomb is not None and tomb.size >= TOMBSTONE_COMPACT_ADVICE:
            import warnings

            warnings.warn(
                f"index has {tomb.size} tombstones; run "
                "pylate_spark.plans.maintenance.compact() to rewrite segments",
                stacklevel=2,
            )

    # -- id resolution (the reference's id<->docid pickles,
    #    fast_plaid.py:136-174) ------------------------------------
    def docmap(self) -> DataFrame:
        return self.spark.read.parquet(active_dir(self.paths, self.manifest, "docmap"))

    def resolve_urls(self, results: DataFrame) -> DataFrame:
        """Join ranked results back to urls (broadcast the small side)."""
        return results.join(self.docmap().select("docid", "url"), "docid", "left")

    def doc_vectors(self, docids: list[int]) -> DataFrame:
        """Reconstruct documents' indexed representations
        ``(docid, term, tf, dl)`` from the segments — the analog of
        ``index.get_documents_embeddings``
        (``/root/reference/pylate/indexes/voyager.py:324-361``).
        Scans only the requested docids' shards; decodes with selective
        block skipping on the docid ranges. Caller-supplied ids are
        deduplicated (``np.isin(assume_unique=True)`` below requires
        it) and tombstoned (deleted) docids are excluded."""
        ids = np.unique(np.asarray(docids, dtype=np.int64))
        if self._tomb_bc is not None:
            ids = ids[~np.isin(ids, self._tomb_bc.value)]
        shards = sorted({int(d) // self.config.shard_size for d in ids})

        def gen(batches):
            from pylate_spark.functions.codec import decode_postings
            from pylate_spark.plans.segments import blocks_from_row

            cols = ("term", "payload", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off")
            for pdf in batches:
                out_d, out_t, out_tf, out_dl = [], [], [], []
                # column-array extraction, not iterrows (same pattern as
                # plans/wand.ShardTerms): pandas builds a Series per row
                # under iterrows, which dominated decode time
                arrs = {c: pdf[c].to_numpy(object) for c in cols}
                for i in range(len(pdf)):
                    row = {c: arrs[c][i] for c in cols}
                    b = blocks_from_row(row)
                    lo = np.searchsorted(ids, b.first, side="left")
                    hi = np.searchsorted(ids, b.last, side="right")
                    need = np.flatnonzero(hi > lo)
                    if need.size == 0:
                        continue
                    d, tf, dl = decode_postings(row["payload"], b, select=need)
                    keep = np.isin(d, ids, assume_unique=True)
                    if keep.any():
                        out_d.append(d[keep])
                        out_tf.append(tf[keep])
                        out_dl.append(dl[keep])
                        out_t.extend([row["term"]] * int(keep.sum()))
                if out_d:
                    yield pd.DataFrame(
                        {
                            "docid": np.concatenate(out_d),
                            "term": out_t,
                            "tf": np.concatenate(out_tf).astype(np.int32),
                            "dl": np.concatenate(out_dl).astype(np.int32),
                        }
                    )

        seg = self._seg.where(in_list("shard", shards))
        return seg.mapInPandas(gen, schema="docid long, term string, tf int, dl int")

    # -- tombstones (delete support, index_updater.py:52-69) --------
    def _load_tombstones(self) -> np.ndarray | None:
        from pylate_spark import storage

        p = active_dir(self.paths, self.manifest, "tombstones")
        if storage.exists(p):
            pdf = self.spark.read.parquet(p).toPandas()
            if len(pdf):
                return np.sort(pdf["docid"].to_numpy(dtype=np.int64))
        return None

    def search(
        self,
        queries: DataFrame | list[tuple[int, str]],
        k: int = 10,
        mode: str = "auto",
        subset: list[int] | np.ndarray | None = None,
        round_to: int | None = None,
    ) -> DataFrame:
        """Ranked results ``(query_id, rank, docid, score)``.

        ``mode``: ``"auto"`` (batches of more than 8 queries are scored
        exhaustively, since their kernel decodes every matched list in
        full; smaller batches select a strategy per query by (n_terms,
        k) — the reference's k-banded parameter presets,
        ``searcher.py:60-83``; see ``plans/wand.score_shard``),
        ``"cascade"`` (block-max pruning) or ``"exhaustive"`` (decode
        everything — the in-engine correctness oracle, the analog of
        exact MaxSim rescoring). All modes return the same rows. ``subset``
        restricts results to the given docids (the reference's
        allow-list filter, ``fast_plaid.py:318-340``). ``round_to``
        emits float64 scores rounded to that many decimals and ranks by
        the rounded value — the cross-engine determinism contract.
        """
        if isinstance(queries, DataFrame):
            qrows = [(r["query_id"], r["text"]) for r in queries.collect()]
        else:
            qrows = list(queries)
        qmap = {
            int(qid): sorted(set(tokenize_py(text, self.config.token_pattern)))
            for qid, text in qrows
        }
        all_terms = sorted({t for ts in qmap.values() for t in ts})
        if not all_terms:
            return self.spark.createDataFrame([], _ranked_schema(round_to))

        buckets = sorted({zlib.crc32(t.encode()) % self.config.term_buckets for t in all_terms})
        missing = [t for t in all_terms if t not in self._df_cache]
        if missing:
            stats = (
                self.spark.read.parquet(active_dir(self.paths, self.manifest, "term_stats"))
                .where(in_list("term", missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in stats}
            for t in missing:
                self._df_cache[t] = found.get(t)  # None = not in vocabulary
        n, params = self.n_docs, self.config.bm25
        idf = {
            t: float(idf_np(df, n))
            for t in all_terms
            if (df := self._df_cache.get(t)) is not None
        }
        qmap = {qid: [t for t in ts if t in idf] for qid, ts in qmap.items()}
        qmap = {qid: ts for qid, ts in qmap.items() if ts}
        if not qmap:
            return self.spark.createDataFrame([], _ranked_schema(round_to))

        tomb_bc = self._tomb_bc
        allowed = np.sort(np.asarray(subset, dtype=np.int64)) if subset is not None else None
        # large allow-lists ride a broadcast (shipped to each executor
        # once), not the task closure (re-pickled into EVERY task — at
        # 10^8 subset ids that's GBs of repeated driver→task traffic).
        # Small subsets stay in the closure: a per-call broadcast has
        # its own driver round-trip and lingers until unpersisted.
        # The handle keeps ONE live subset broadcast: the previous one
        # is unpersisted (not destroyed — a still-unexecuted DataFrame
        # from an earlier search lazily re-ships it from the driver if
        # run later), so repeated subset searches on a long-lived
        # handle don't accumulate executor broadcast blocks.
        allowed_bc = None
        if allowed is not None and allowed.size > SUBSET_BROADCAST_THRESHOLD:
            if self._subset_bc is not None:
                self._subset_bc.unpersist(blocking=False)
            allowed_bc = self._subset_bc = self.spark.sparkContext.broadcast(allowed)
            allowed = None
        avgdl, kk, md, rt = self.avgdl, k, mode, round_to
        ssz = self.config.shard_size  # dense-accumulator extent per kernel

        # large query batches: ship qmap+idf via ONE broadcast per
        # search instead of the task closure (the closure is re-pickled
        # into every task — at 10^5 query terms × 10^6 shard tasks
        # that's the same repeated-driver-traffic hazard the subset
        # allow-list had). Small batches stay in the closure: a
        # broadcast has its own driver round-trip. The handle keeps ONE
        # live query-set broadcast (previous unpersisted, not
        # destroyed — same lazy-re-ship semantics as _subset_bc).
        vocab_terms = list(idf)  # scan pushdown predicate (plan-side)
        n_payload = sum(len(ts) for ts in qmap.values()) + len(idf)
        qset_bc = None
        if n_payload > QUERYSET_BROADCAST_THRESHOLD:
            if self._qset_bc is not None:
                self._qset_bc.unpersist(blocking=False)
            qset_bc = self._qset_bc = self.spark.sparkContext.broadcast((qmap, idf))
            qmap, idf = None, None  # keep the payload out of the closure

        seg = (
            self._seg
            .where(in_list("bucket", buckets) & in_list("term", vocab_terms))
            .select("shard", "term", "df", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off", "payload")
        )

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            qm, qidf = qset_bc.value if qset_bc is not None else (qmap, idf)
            return score_shard(
                pdf, qm, qidf, avgdl, kk, params, mode=md,
                tombstones=tomb_bc.value if tomb_bc is not None else None,
                allowed=allowed_bc.value if allowed_bc is not None else allowed,
                round_to=rt, shard_size=ssz,
            )

        # observability: the kernel is kept so _last_closure_bytes can
        # measure what rides every task ON DEMAND (tests pin that a
        # large query batch keeps it small) — no serialization happens
        # in the query hot path itself
        self._last_kernel = kernel
        scored = seg.groupBy("shard").applyInPandas(kernel, schema=_result_schema(round_to))
        return _rank_topk(scored, k)

    @property
    def _last_closure_bytes(self) -> int | None:
        """Size of the last search()'s task closure, measured lazily
        (pickling is paid only when someone asks — debug/test
        observability, not a per-search cost)."""
        if self._last_kernel is None:
            return None
        from pyspark import cloudpickle

        return len(cloudpickle.dumps(self._last_kernel))

    def search_join(
        self,
        queries: DataFrame,
        k: int = 10,
        round_to: int | None = None,
        subset: list[int] | np.ndarray | None = None,
    ) -> DataFrame:
        """Fully distributed query path — scatter by TERM instead of by
        shard, with NOTHING on the driver: tokenization is a
        distributed UDF over the queries DataFrame, idf arrives via a
        join with the persisted term_stats, postings are decoded by a
        ``mapInPandas`` stage and scored/merged by native joins + aggs.
        Rank-identical to ``search(mode="exhaustive")``.

        When to use which — MEASURED, round 6 (PLANS.md §9c): on a
        single box, :meth:`search` wins at EVERY feasible batch size,
        and its throughput *rises* with batch (3.2M-doc index,
        local[32]: 75.8 qps at 2×10³ queries → 400+ qps at 10⁴, driver
        planning ≤ 1 s, driver RSS 152 MB) because the per-shard decode
        cost amortizes while candidates stay in dense accumulators —
        nothing corpus-sized is ever shuffled. This path materializes
        O(Σ_t df(t)·nq(t)) rows through exchanges instead: at 10⁴
        queries on the same index that is ~10⁹⁺ rows ≈ 10² GB of
        shuffle, which exceeded BOTH a 126 GB tmpfs spill (OS
        OOM-killed at 57 GB JVM RSS, 16 g and 64 g heaps alike) and
        75 GB of disk; the largest completed point, 2×10³ queries, ran
        946 s vs the kernel's 26 s (~40 GB peak spill, under the
        since-removed two-phase plan). So the single-node crossover
        DOES NOT EXIST — not for lack of cores but of shuffle capacity.
        A 4-vCPU host shows the same shape (50k-doc synth index,
        ``round_to=4``, wall s per call, this path vs
        ``search(mode="exhaustive")``): 100 queries 4.4–6.1 s vs
        1.1–1.7 s, 2,000 queries 43–60 s vs 2.3–3.2 s. This path is for
        a MULTI-EXECUTOR cluster, where the same exchanges distribute
        across many nodes' memory/disks and the kernel path's one real
        ceiling — the driver collecting/tokenizing/broadcasting a
        10⁷⁺-query map — binds first. On one box, use :meth:`search`;
        it plans driver-side (collect + tokenize + one
        closure/broadcast), the same trade the reference makes at its
        own batching scale (50/probe, ``retrieve/base.py:98-105``).

        ``subset`` restricts *candidates* to the given docids (corpus
        stats stay global — the reference's allow-list semantics,
        ``fast_plaid.py:318-340``) — the kernel path's ``subset=`` made
        distributed (a semi-join on docid instead of a sorted-array
        mask).

        Determinism contract (same as :func:`assign_docids`): the
        ``queries`` input is evaluated once up front and pinned with a
        lazy ``localCheckpoint``, so the bucket allow-list and the
        scoring join see the SAME tokenized batch even if the input is
        nondeterministic (unseeded sample, mutating view) — re-read
        skew cannot silently drop postings. Caveat on non-local
        masters: localCheckpoint blocks are NON-recomputable — losing
        an executor mid-query (dynamic allocation, spot nodes) fails
        the job with a missing-checkpoint-block error instead of
        recomputing; on such clusters prefer a reliable checkpoint dir
        or persist+materialize for the pin.

        Input contract: ``query_id`` rows must be unique. Duplicate
        rows for one query_id produce duplicate (query_id, term) pairs
        and double-counted contributions here (``array_distinct``
        dedups within a row only — the global ``.distinct()`` was a
        full-batch shuffle, removed in round 6), while :meth:`search`'s
        driver-side qmap silently keeps one row per id. Dedup upstream
        (``dropDuplicates(["query_id"])``) if the source can repeat ids.

        Plan shape: one pre-job collects the query terms' hash buckets
        (≤ ``term_buckets`` ints, one aggregate row) that literal-prune
        the segment scan's partition filter — the same ``bucket IN
        (...)`` pruning search() does (Spark's DPP rule declines here:
        a query batch is a scan, not a selective filter). Query terms
        then semi-join-prune the surviving segment files and the
        term_stats read (both ≤ |distinct query terms| rows — AQE
        broadcasts them when small, shuffles on ``term`` when not);
        decoded postings anti-join tombstones (→ semi-join the subset);
        (query_id, docid) partial-agg shuffles; WindowGroupLimit-bounded
        top-k merge (same final merge as search()).
        """
        from pylate_spark import storage
        from pylate_spark.plans.segments import decode_postings_gen

        # (query_id, term) pairs, unique per query by construction:
        # array_distinct dedups INSIDE the tokenize projection (BM25
        # sums each query term once), so qt needs no global distinct.
        # lazy localCheckpoint: materialized by the bucket pre-job, then
        # reused by the scoring join — the determinism contract above
        # requires a single read of ``queries``.
        qt = (
            queries.select(
                F.col("query_id").cast("long").alias("query_id"),
                F.explode(
                    F.array_distinct(self._tokenize_udf(F.col("text")))
                ).alias("term"),
            )
            .localCheckpoint(eager=False)
        )
        # duplicate terms across queries are fine: semi-joins and
        # collect_set dedup by construction
        terms = qt.select("term")
        # ONE aggregate row to the driver (never query data): the query
        # terms' hash-bucket set. Buckets of terms absent from the
        # corpus only widen the IN list.
        bucket_col = (
            F.crc32(F.col("term")) % F.lit(self.config.term_buckets)
        ).cast("int")
        buckets = sorted(
            terms.select(bucket_col.alias("bucket"))
            .agg(F.collect_set("bucket").alias("buckets"))
            .collect()[0]["buckets"]
            or []
        )

        seg = (
            self._seg.where(in_list("bucket", buckets))
            .join(terms, "term", "left_semi")
            .select("term", "payload", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off")
        )
        postings = seg.mapInPandas(
            decode_postings_gen, schema="term string, docid long, tf long, dl long"
        )
        tomb_dir = active_dir(self.paths, self.manifest, "tombstones")
        if storage.exists(tomb_dir):
            tomb = self.spark.read.parquet(tomb_dir).select("docid").distinct()
            postings = postings.join(tomb, "docid", "left_anti")
        if subset is not None:
            subset_df = self.spark.createDataFrame(
                [(int(d),) for d in subset], "docid long"
            ).distinct()
            postings = postings.join(subset_df, "docid", "left_semi")

        stats = (
            self.spark.read.parquet(active_dir(self.paths, self.manifest, "term_stats"))
            .join(terms, "term", "left_semi")
            .select("term", "df")
        )
        contrib = bm25_score_col(
            F.col("tf"), F.col("dl"), F.col("df"),
            float(self.n_docs), self.avgdl, self.config.bm25,
        )
        scored = (
            postings.join(qt, "term")
            .join(stats, "term")
            .withColumn("contrib", contrib)
            .groupBy("query_id", "docid")
            .agg(F.sum("contrib").alias("score_d"))
        )
        if round_to is not None:
            scored = scored.withColumn("score", F.round(F.col("score_d"), round_to))
        else:
            scored = scored.withColumn("score", F.col("score_d").cast("float"))
        return _rank_topk(scored.drop("score_d"), k)


def bm25_scan_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "docid",
    text_col: str = "text",
    params: BM25Params = BM25Params(),
    round_to: int | None = None,
    allowed_filter: Column | None = None,
    conjunctive: bool = False,
    pattern: str = TOKEN_PATTERN,
) -> DataFrame:
    """Index-free BM25 top-k, expressed as a declarative DataFrame plan
    (Catalyst does pushdown/broadcast/partial-agg). Used for the DuckDB
    oracle parity checks; ``round_to`` rounds the emitted double score
    so cross-engine float summation order cannot flip value hashes.

    ``allowed_filter`` restricts *candidates* (corpus stats stay
    global — the reference's subset semantics, fast_plaid.py:318-340);
    ``conjunctive`` keeps only docs matching every query term (AND
    mode; BM25 default is disjunctive).

    The query-term postings are pinned with a lazy ``localCheckpoint``
    (see below). Caveat on non-local masters: localCheckpoint blocks
    are NON-recomputable — losing an executor mid-query (dynamic
    allocation, spot nodes) fails the job with a missing-checkpoint
    -block error instead of recomputing; on such clusters prefer a
    reliable checkpoint dir or persist+materialize for the pin.
    """
    from pylate_spark.functions.tokenize import native_tokens_col

    # corpus stats natively — one pushed-down scan, no UDF, no shuffle
    dl_native = F.size(native_tokens_col(text_col, pattern))
    g = (
        docs.select(dl_native.alias("dl"))
        .where(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
        .collect()[0]
    )
    n_docs, avgdl = float(g["n"]), float(g["avgdl"])

    qt = (
        queries.select(
            "query_id",
            F.explode(make_tokenize_udf(pattern)(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    # filter postings to query terms FIRST (broadcast semi-join), so the
    # df aggregation and the scoring join never touch non-query terms.
    # lazy localCheckpoint (r7, guide §1.2): tl_q is referenced TWICE in
    # the final plan — once under the broadcast df-aggregation, once as
    # the candidate stream — and its subtree has no exchange Spark could
    # reuse (mapInPandas + broadcast semi-join), so without the pin the
    # whole corpus was tokenized twice per run. The pinned rows are only
    # the query-term postings (small by construction).
    tl = terms_long(docs, id_col=id_col, text_col=text_col, pattern=pattern)
    tl_q = tl.join(
        F.broadcast(qt.select("term").distinct()), "term", "left_semi"
    ).localCheckpoint(eager=False)
    dfs = tl_q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    candidates = tl_q if allowed_filter is None else tl_q.where(allowed_filter)
    scored = (
        candidates.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfs), "term")
        .withColumn(
            "contrib",
            bm25_score_col(F.col("tf"), F.col("dl"), F.col("df"), n_docs, avgdl, params),
        )
        .groupBy("query_id", "docid")
        .agg(F.sum("contrib").alias("score_d"), F.count(F.lit(1)).alias("n_matched"))
    )
    if conjunctive:
        qsizes = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
        scored = scored.join(F.broadcast(qsizes), "query_id").where(
            F.col("n_matched") == F.col("n_terms")
        )
    scored = scored.drop("n_matched", "n_terms")
    if round_to is not None:
        scored = scored.withColumn("score", F.round(F.col("score_d"), round_to))
    else:
        scored = scored.withColumn("score", F.col("score_d").cast("float"))
    return _rank_topk(scored.drop("score_d"), k)
