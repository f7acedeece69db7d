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

import os
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

#: search_join "auto" two-phase bar, in avoided-replication rows PER
#: CORE. Round-5 calibration (PLANS.md §9b, bench corpus, 200k docs /
#: local[32], head_saved → single-phase vs two-phase seconds):
#: 3.8M → 5.5 / 13.1 · 22M → 11.0 / 18.8 · 61M → 32.3 / 26.3 ·
#: 255M → 117 / 168. Two-phase wins only a NARROW mid window at this
#: scale (its candidate joins and unbounded-query legs grow with the
#: batch as well), and its best measured win is 1.2× — while the
#: hazard it exists for is unbounded (a stopword's df × 10^5-query
#: fan-out at web scale cannot be joined single-phase at all). The
#: risk is asymmetric, so "auto" is a SAFETY VALVE, not a marginal
#: optimizer: it stays single-phase until the avoided replication is
#: ~10× the measured machinery cost (≈400M rows at 32 cores — every
#: measured point below it single-phase wins or loses ≤1.4×; a true
#: web-scale blow-up exceeds it by orders of magnitude).
JOIN_MACHINERY_ROWS_PER_CORE = 12_500_000

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
        self._last_join_two_phase: bool | None = None
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

    def _join_machinery_rows_per_core(self) -> int:
        """The ``two_phase="auto"`` safety-valve bar, resolved per
        deployment: ``PYLATE_JOIN_MACHINERY_ROWS_PER_CORE`` env var >
        ``IndexConfig.join_machinery_rows_per_core`` (persisted in the
        manifest at build time) > the module default calibrated on this
        box (``scripts/calibrate_join.py`` re-measures it)."""
        env = os.environ.get("PYLATE_JOIN_MACHINERY_ROWS_PER_CORE")
        if env:
            return int(env)
        if self.config.join_machinery_rows_per_core is not None:
            return int(self.config.join_machinery_rows_per_core)
        return JOIN_MACHINERY_ROWS_PER_CORE

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

    def _decoded_postings(
        self,
        terms_df: DataFrame,
        subset_df: DataFrame | None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Semi-join-pruned segment scan → ``mapInPandas`` posting
        decode → tombstone anti-join (→ subset semi-join). The one
        decode leg of every search_join phase. ``buckets`` (the query
        terms' hash buckets, ≤ ``term_buckets`` ints collected as one
        aggregate row by search_join) lands as a literal partition
        filter on the scan — the same ``bucket IN (...)`` pruning
        search() does, chosen over dynamic partition pruning because
        Spark's DPP rule declines when the filtering side has no
        selective predicate (a query batch is a scan, not a filter),
        and a literal IN prunes at planning time unconditionally."""
        from pylate_spark import storage
        from pylate_spark.plans.segments import decode_postings_gen

        seg = self._seg
        if buckets is not None:
            seg = seg.where(in_list("bucket", buckets))
        seg = seg.join(terms_df, "term", "left_semi").select(
            "term", "payload", "b_first", "b_last", "b_n", "b_max_tf", "b_min_dl", "b_off"
        )
        postings = seg.mapInPandas(
            decode_postings_gen, schema="term string, docid long, tf long, dl long"
        )
        tomb_dir = active_dir(self.paths, self.manifest, "tombstones")
        if storage.exists(tomb_dir):
            tomb = self.spark.read.parquet(tomb_dir).select("docid").distinct()
            postings = postings.join(tomb, "docid", "left_anti")
        if subset_df is not None:
            postings = postings.join(subset_df, "docid", "left_semi")
        return postings

    def search_join(
        self,
        queries: DataFrame,
        k: int = 10,
        round_to: int | None = None,
        subset: list[int] | np.ndarray | None = None,
        two_phase: bool | str = "auto",
        head_df_cutoff: int | None = None,
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
        946 s vs the kernel's 26 s (~40 GB peak spill, ``auto``
        correctly two-phase). So the single-node crossover DOES NOT
        EXIST — not for lack of cores but of shuffle capacity. This
        path is for a MULTI-EXECUTOR cluster, where the same exchanges
        distribute across many nodes' memory/disks and the kernel
        path's one real ceiling — the driver collecting/tokenizing/
        broadcasting a 10⁷⁺-query map — binds first. On one box, use
        :meth:`search`; it plans driver-side (collect + tokenize + one
        closure/broadcast), the same trade the reference makes at its
        own batching scale (50/probe, ``retrieve/base.py:98-105``).

        ``subset`` restricts *candidates* to the given docids (corpus
        stats stay global — the reference's allow-list semantics,
        ``fast_plaid.py:318-340``) — the kernel path's ``subset=`` made
        distributed (a semi-join on docid instead of a sorted-array
        mask).

        ``two_phase`` bounds the head-term fan-out hazard: a naive
        ``postings ⋈ queries ON term`` replicates a stopword's ~N-row
        posting list once per query containing it. ``"auto"`` (default)
        is a cost-based choice from AGGREGATE statistics only (one
        per-term distributed agg over ≤ |distinct query terms| rows,
        ONE scalar row to the driver — never query data): engage the
        two-phase plan iff the replicated head rows it avoids
        (Σ_head df·n_queries_sharing − Σ_head df) exceed the phase-1
        rows it re-shuffles anyway PLUS a deliberately HIGH machinery
        bar (``JOIN_MACHINERY_ROWS_PER_CORE`` × cores). The bar is a
        safety valve, not a marginal optimizer: round-5 calibration
        (PLANS.md §9b) measured two-phase winning only a narrow mid
        window (best 1.2×) at bench scale while losing up to 2.4×
        outside it — but the hazard it guards against is unbounded
        (a web-scale stopword's df × fan-out cannot be joined
        single-phase at all), so the plan flips only when the avoided
        replication is catastrophic, where two-phase wins by
        construction. The two-phase plan is the reference's
        shrinking-budget cascade (``index_storage.py:186-204``) made
        EXACT at the plan level — distributed MaxScore:

        1. score only RARE terms (df ≤ ``head_df_cutoff``, default
           ``max(256, n_docs // 20)``) with the plain term join;
        2. θ_q = the k-th best phase-1 partial score per query (a lower
           bound on the true k-th best total), and hub_q = Σ upper
           bounds of q's head terms, from segment BLOCK METADATA only
           (max_tf/min_dl aggregated per term — no payload decode);
        3. a phase-1 candidate survives iff partial + hub_q ≥ θ_q − ε
           (every true top-k doc does: its partial ≥ its total − hub ≥
           θ − ε); head postings then join the surviving (candidate ×
           head-term) set ON (term, docid) — output bounded by that
           small set, the stopword posting list is scanned ONCE and
           never replicated per query;
        4. only queries where hub_q ≥ θ_q − ε ("unbounded": stopword-only
           queries, or < k phase-1 candidates) fall back to the full
           head-term join — and for those, no phase-1 candidate is ever
           pruned (partial + hub ≥ hub ≥ θ − ε), so every emitted score
           is the exact full sum. ε = 2·10^−round_to (the kernel's
           rounded-rank margin, plans/wand.py) or 1e-3 for raw-float
           emit — pruning is only ever made MORE conservative by it.

        Each phase decodes its own semi-join-pruned segment leg. Rare
        terms are decoded once (phase 1 only); a head term is decoded
        once for phase 2a and — when some query is unbounded — its
        postings appear again in phase 2b's leg, which is semi-join-
        pruned to exactly the unbounded queries' terms (so the
        duplicated decode is bounded by the stopword-only queries'
        term set, usually empty; results are exact either way because
        the bounded/unbounded query sets are disjoint). With AQE on, a
        phase whose build side is empty (no head terms / no unbounded
        queries) is eliminated at runtime without touching its scan.

        Determinism contract (same as :func:`assign_docids`): the
        ``queries`` input is evaluated once up front and pinned with a
        lazy ``localCheckpoint``, so the plan-choice estimate, the
        bucket allow-list, and every scoring leg see the SAME tokenized
        batch even if the input is nondeterministic (unseeded sample,
        mutating view) — re-read skew cannot silently drop postings.
        Caveat on non-local masters: localCheckpoint blocks are
        NON-recomputable — losing an executor mid-query (dynamic
        allocation, spot nodes) fails the job with a missing-checkpoint
        -block error instead of recomputing; on such clusters prefer a
        reliable checkpoint dir or persist+materialize for the pin.

        Input contract: ``query_id`` rows must be unique. Duplicate
        rows for one query_id produce duplicate (query_id, term) pairs
        and double-counted contributions here (``array_distinct``
        dedups within a row only — the global ``.distinct()`` was a
        full-batch shuffle, removed in round 6), while :meth:`search`'s
        driver-side qmap silently keeps one row per id. Dedup upstream
        (``dropDuplicates(["query_id"])``) if the source can repeat ids.

        Plan shape: the matched terms' hash buckets (≤ ``term_buckets``
        ints, one aggregate row fused with the plan-choice estimate)
        literal-prune every segment scan's partition filter — the same
        ``bucket IN (...)`` pruning search() does; query terms then
        semi-join-prune the surviving files and the term_stats read
        (both ≤ |distinct query terms| rows after pruning — AQE
        broadcasts them when small, shuffles on ``term`` when not);
        decoded postings anti-join tombstones; (query_id, docid)
        partial-agg shuffles; WindowGroupLimit-bounded top-k merge
        (same final merge as search()).
        """
        # (query_id, term) pairs, unique per query by construction:
        # array_distinct dedups INSIDE the tokenize projection (BM25
        # sums each query term once), so qt needs no global distinct —
        # the old ``.distinct()`` was a full shuffle of the batch.
        # lazy localCheckpoint: materialized by the first job (the
        # estimate/bucket collect below), then every later subplan
        # reference — phase legs, the final merge — reuses the pinned
        # rows instead of re-running the tokenize UDF (the plan appears
        # 6+ times in the two-phase form; re-evaluating it per
        # reference was a measurable slice of the path's constant, and
        # the determinism contract above requires a single read).
        qt = (
            queries.select(
                F.col("query_id").cast("long").alias("query_id"),
                F.explode(
                    F.array_distinct(self._tokenize_udf(F.col("text")))
                ).alias("term"),
            )
            .localCheckpoint(eager=False)
        )
        # duplicate terms across queries are fine everywhere this is
        # used: semi-joins dedup by construction, the estimate
        # aggregates per term, collect_set dedups buckets
        terms = qt.select("term")
        # ≤ |distinct query terms| rows after the semi-join — pinned
        # for the same reason (referenced by the estimate, the scoring
        # join, and the two-phase metadata leg; each reference would
        # otherwise re-scan the term_stats parquet)
        stats = (
            self.spark.read.parquet(active_dir(self.paths, self.manifest, "term_stats"))
            .join(terms, "term", "left_semi")
            .select("term", "df")
            .localCheckpoint(eager=False)
        )
        subset_df = None
        if subset is not None:
            subset_df = self.spark.createDataFrame(
                [(int(d),) for d in subset], "docid long"
            ).distinct()
        contrib = bm25_score_col(
            F.col("tf"), F.col("dl"), F.col("df"),
            float(self.n_docs), self.avgdl, self.config.bm25,
        )

        def finish(scored: DataFrame) -> DataFrame:
            if round_to is not None:
                out = scored.withColumn("score", F.round(F.col("score_d"), round_to))
            else:
                out = scored.withColumn("score", F.col("score_d").cast("float"))
            return _rank_topk(out.drop("score_d"), k)

        cutoff = head_df_cutoff if head_df_cutoff is not None else max(256, self.n_docs // 20)
        bucket_col = (
            F.crc32(F.col("term")) % F.lit(self.config.term_buckets)
        ).cast("int")
        if two_phase == "auto":
            # ONE aggregate row to the driver (never query data): the
            # plan-choice cost estimate AND the matched terms'
            # hash-bucket set (≤ term_buckets ints) that literal-prunes
            # every segment scan below — fused so plan choice +
            # partition pruning cost a single tiny job regardless of
            # batch size.
            est = (
                qt.join(stats, "term")
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("nq"), F.first("df").alias("df"))
                .withColumn("bucket", bucket_col)
                .agg(
                    F.sum(
                        F.when(F.col("df") > cutoff, F.col("df") * (F.col("nq") - 1))
                        .otherwise(F.lit(0))
                    ).alias("head_saved"),
                    F.sum(
                        F.when(F.col("df") <= cutoff, F.col("df") * F.col("nq"))
                        .otherwise(F.lit(0))
                    ).alias("rare_repl"),
                    F.collect_set("bucket").alias("buckets"),
                )
                .collect()[0]
            )
            buckets = sorted(est["buckets"] or [])
            machinery = self._join_machinery_rows_per_core() * (
                self.spark.sparkContext.defaultParallelism
            )
            two_phase = (
                (est["head_saved"] or 0) > (est["rare_repl"] or 0) + machinery
            )
        else:
            # explicit two_phase: the caller opted out of the cost
            # estimate, so the pre-job shrinks to the bucket allow-list
            # alone — no term_stats scan, no stats join. Buckets of
            # terms absent from the corpus only widen the IN list
            # (their partitions hold no matching postings).
            est = (
                terms.select(bucket_col.alias("bucket"))
                .agg(F.collect_set("bucket").alias("buckets"))
                .collect()[0]
            )
            buckets = sorted(est["buckets"] or [])
        # observability (test/debug): which plan the last call ran
        self._last_join_two_phase = bool(two_phase)

        if not two_phase:
            postings = self._decoded_postings(terms, subset_df, buckets)
            scored = (
                postings.join(qt, "term")
                .join(stats, "term")
                .withColumn("contrib", contrib)
                .groupBy("query_id", "docid")
                .agg(F.sum("contrib").alias("score_d"))
            )
            return finish(scored)

        # per-term TRUE upper bound from block metadata only (payload
        # column pruned away): idf · tfn(max max_tf, min min_dl) — the
        # same UB the kernel uses per shard (plans/wand.ShardTerms),
        # here aggregated globally per term
        meta = (
            self._seg.where(in_list("bucket", buckets))
            .join(terms, "term", "left_semi")
            .groupBy("term")
            .agg(
                F.max(F.array_max("b_max_tf")).alias("ub_tf"),
                F.min(F.array_min("b_min_dl")).alias("ub_dl"),
            )
        )
        tstats = stats.join(meta, "term").select(
            "term",
            "df",
            bm25_score_col(
                F.col("ub_tf"), F.col("ub_dl"), F.col("df"),
                float(self.n_docs), self.avgdl, self.config.bm25,
            ).alias("ub"),
            (F.col("df") > cutoff).alias("is_head"),
        )
        qts = qt.join(tstats, "term")  # (query_id, term, df, ub, is_head)
        qt_r = qts.where(~F.col("is_head")).select("query_id", "term", "df")
        qt_h = qts.where(F.col("is_head")).select("query_id", "term", "df", "ub")

        # phase 1: rare terms, plain term scatter
        post_r = self._decoded_postings(
            tstats.where(~F.col("is_head")).select("term"), subset_df, buckets
        )
        partial = (
            post_r.join(qt_r, "term")
            .withColumn("c", contrib)
            .groupBy("query_id", "docid")
            .agg(F.sum("c").alias("partial"))
        )

        # per-query pruning state: θ (k-th best partial) and hub (head
        # UB sum) — both ≤ |queries| rows, never corpus-sized
        wq = Window.partitionBy("query_id").orderBy(F.desc("partial"), F.asc("docid"))
        theta = (
            partial.withColumn("rn", F.row_number().over(wq))
            .where(F.col("rn") == k)
            .select("query_id", F.col("partial").alias("theta"))
        )
        hub = qt_h.groupBy("query_id").agg(F.sum("ub").alias("hub"))
        eps = 2 * 10.0 ** (-round_to) if round_to is not None else 1e-3
        qmeta = (
            qt.select("query_id").distinct()
            .join(theta, "query_id", "left")
            .join(hub, "query_id", "left")
            .select(
                "query_id",
                F.coalesce("theta", F.lit(float("-inf"))).alias("theta"),
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
            )
            .withColumn("bounded", F.col("hub") < F.col("theta") - F.lit(eps))
        )
        cands = (
            partial.join(qmeta, "query_id")
            .where(F.col("partial") + F.col("hub") >= F.col("theta") - F.lit(eps))
            .select("query_id", "docid", "partial", "bounded")
        )

        # phase 2a (bounded queries): head postings keyed by (term,
        # docid) against the small surviving candidate × head-term set —
        # a stopword's posting list is scanned once, never replicated
        cand_ht = (
            cands.where(F.col("bounded")).select("query_id", "docid")
            .join(qt_h.select("query_id", "term", "df"), "query_id")
        )
        post_h = self._decoded_postings(
            tstats.where(F.col("is_head")).select("term"), subset_df, buckets
        )
        c2b = (
            post_h.join(cand_ht, ["term", "docid"])
            .withColumn("c", contrib)
            .select("query_id", "docid", "c")
        )
        # phase 2b (unbounded queries — stopword-only or < k phase-1
        # candidates): exactness requires the full head join for these
        # queries ONLY; its decode leg is pruned to their terms and AQE
        # eliminates it when no query is unbounded
        qt_h_un = qt_h.join(
            qmeta.where(~F.col("bounded")).select("query_id"), "query_id"
        ).select("query_id", "term", "df")
        post_h_un = self._decoded_postings(
            qt_h_un.select("term").distinct(), subset_df, buckets
        )
        c2u = (
            post_h_un.join(qt_h_un, "term")
            .withColumn("c", contrib)
            .select("query_id", "docid", "c")
        )
        contrib2 = (
            c2b.unionByName(c2u).groupBy("query_id", "docid").agg(F.sum("c").alias("s2"))
        )
        scored = (
            cands.select("query_id", "docid", "partial")
            .join(contrib2, ["query_id", "docid"], "full_outer")
            .select(
                "query_id",
                "docid",
                (F.coalesce("partial", F.lit(0.0)) + F.coalesce("s2", F.lit(0.0))).alias(
                    "score_d"
                ),
            )
        )
        return finish(scored)


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
