"""Benchmark harness (driver contract: prints ONE JSON line).

Measures the engine's two headline metrics from BASELINE.json —
index-build docs/sec and BM25 top-10 queries/sec (rank-identical
cascade path) — over the deterministic synthetic web-pages corpus
(FIXTURES.md bench tier), plus a few catalog queries over the
driver-provided sf tables.

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] width (default all cores)
  PYLATE_BENCH_DOCS    synthetic corpus size (default 200_000)
  PYLATE_BENCH_MASTER  override master (e.g. local[8] for scaling runs)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_docs = int(os.environ.get("PYLATE_BENCH_DOCS", "200000"))
    master = os.environ.get("PYLATE_BENCH_MASTER")

    from pylate_spark.config import IndexConfig
    from pylate_spark.plans.build import build_index
    from pylate_spark.plans.query import InvertedIndex
    from pylate_spark.session import get_spark
    from pylate_spark.sources.synth import synth_pages, synth_queries_pandas

    # the dedup second-scale section shuffles 1M-doc band joins; 16g
    # (the library default) measured too small for the bench JVM
    os.environ.setdefault("PYLATE_SPARK_DRIVER_MEM", "48g")
    spark = get_spark(app_name="pylate_bench", master=master)
    cores = spark.sparkContext.defaultParallelism
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    idx_dir = tempfile.mkdtemp(prefix="pylate_bench_idx_")
    corpus_dir = tempfile.mkdtemp(prefix="pylate_bench_pages_")
    bucket_dir = tempfile.mkdtemp(prefix="pylate_bench_buckets_")
    try:
        # --- materialize the corpus table first (untimed: the engine's
        # input contract is an existing pages table, BASELINE.json) ----
        synth_pages(spark, n_docs).write.mode("overwrite").parquet(corpus_dir)
        pages = spark.read.parquet(corpus_dir)

        # --- index build (SPIMI) ---------------------------------------
        cfg = IndexConfig(shard_size=max(n_docs // (2 * cores), 4096), block_size=128,
                          term_buckets=64)
        t0 = time.time()
        manifest = build_index(
            spark, pages, idx_dir, config=cfg, shards_per_batch=4 * cores
        )
        timings["build_index"] = round(time.time() - t0, 3)
        extras["build_docs_per_sec"] = round(n_docs / timings["build_index"], 1)
        extras["build_postings_per_sec"] = round(
            manifest["n_postings"] / timings["build_index"], 1
        )
        extras["bytes_per_posting"] = round(
            manifest["bytes"] / max(manifest["n_postings"], 1), 3
        )

        # --- batched query job (100 queries, one scatter-gather) -------
        idx = InvertedIndex(spark, idx_dir)
        qset = list(
            zip(*synth_queries_pandas(100).to_dict("list").values())
        )
        # untimed warm-up: pay the one-time term-stats lookup + Python
        # worker spin-up once, so the per-mode numbers measure the
        # steady-state query path, not JVM/Arrow initialization
        idx.search(qset[:10], k=10).count()
        # INTERLEAVED min-of-3 (SCALING.md §4 protocol): sequential
        # min-of-2 per mode let one noisy host window land entirely on
        # one mode (BENCH_r03's cascade outlier); interleaving spreads
        # host weather evenly across modes
        modes = ("cascade", "exhaustive", "auto")
        best: dict[str, float] = {}
        n_rows: dict[str, int] = {}
        import pandas as pd

        qdf = spark.createDataFrame(
            pd.DataFrame(qset, columns=["query_id", "text"])
        )
        idx.search_join(qdf.limit(10), k=10).count()  # warm the join path too
        for _ in range(3):
            for mode in modes:
                t0 = time.time()
                n_rows[mode] = idx.search(qset, k=10, mode=mode).count()
                dt = time.time() - t0
                best[mode] = min(best.get(mode, dt), dt)
            # the fully distributed (scatter-by-term, single-phase join)
            # path on the same batch — regression-visible per round
            t0 = time.time()
            n_rows["join"] = idx.search_join(qdf, k=10).count()
            dt = time.time() - t0
            best["join"] = min(best.get("join", dt), dt)
        for mode in (*modes, "join"):
            timings[f"query_{mode}_100q"] = round(best[mode], 3)
            extras[f"qps_{mode}"] = round(100 / best[mode], 2)
            extras[f"query_{mode}_rows"] = n_rows[mode]

        # --- catalog queries over driver testdata ----------------------
        from pylate_spark.entry_queries import (
            q_bm25_topk,
            q_cosine_topk,
            q_lsh_pairs,
            q_simhash,
        )

        for name, fn in [
            ("bm25_scan_topk", q_bm25_topk),
            ("minhash_lsh_pairs", q_lsh_pairs),
            ("simhash", q_simhash),
            ("cosine_topk", q_cosine_topk),
        ]:
            t0 = time.time()
            fn(spark, sf_dir).count()
            timings[name] = round(time.time() - t0, 3)

        # --- ANN accuracy/probe trade (measured recall, the reference's
        # n_ivf_probe knob) on clustered synthetic embeddings -----------
        from pyspark.sql import functions as F

        from pylate_spark.operators.similarity import cosine_topk, ivf_topk, recall_at_k
        from pylate_spark.sources.synth import synth_embeddings

        emb = synth_embeddings(spark, 2000).cache()
        qs = emb.where(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        exact = cosine_topk(emb, qs, k=10).cache()
        exact.count()
        for probe in (1, 22):
            rows = recall_at_k(
                exact, ivf_topk(emb, qs, k=10, n_planes=6, n_probe=probe), k=10
            ).collect()
            extras[f"ann_recall_at10_probe{probe}"] = round(
                sum(r["recall"] for r in rows) / len(rows), 3
            )
        # auto-probe: pick n_probe FOR a recall target from the measured
        # curve (the reference's preset-selection idea, searcher.py:60-83)
        from pylate_spark.operators.similarity import ivf_topk_auto, probe_recall_curve

        t0 = time.time()
        curve = probe_recall_curve(emb, qs, k=10, n_planes=6, exact=exact)
        approx, n_probe = ivf_topk_auto(
            emb, qs, target_recall=0.9, k=10, n_planes=6, curve=curve
        )
        rows = recall_at_k(exact, approx, k=10).collect()
        timings["ann_auto_probe_target90"] = round(time.time() - t0, 3)
        extras["ann_auto_n_probe"] = n_probe
        extras["ann_auto_recall_at10"] = round(sum(r["recall"] for r in rows) / len(rows), 3)
        emb.unpersist()

        # --- persisted-bucket ANN probe vs full-scan recompute ---------
        # write-time bucketing (untimed: paid once per corpus) makes the
        # probe a partition-pruned scan — probe cost ∝ probed buckets'
        # bytes, never a full-corpus pass (PLANS.md §8)
        import os as _os

        from pylate_spark.operators.similarity import (
            ivf_topk_bucketed,
            write_bucketed_embeddings,
        )

        big = synth_embeddings(spark, 50_000)
        write_bucketed_embeddings(big, bucket_dir, n_planes=6, dim=64)
        big_q = big.where(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        t0 = time.time()
        ivf_topk(big, big_q, k=10, n_planes=6, n_probe=7).count()
        timings["ann_fullscan_probe7_50k"] = round(time.time() - t0, 3)
        t0 = time.time()
        ivf_topk_bucketed(spark, bucket_dir, big_q, k=10, n_probe=7).count()
        timings["ann_pruned_probe7_50k"] = round(time.time() - t0, 3)
        extras["ann_pruned_speedup"] = round(
            timings["ann_fullscan_probe7_50k"] / timings["ann_pruned_probe7_50k"], 2
        )
        extras["ann_bucket_dirs"] = sum(
            1 for d in _os.listdir(bucket_dir) if d.startswith("bucket=")
        )
        # --- dedup pair pipelines at a SECOND scale (10x the catalog's
        # sf0.1 documents table) — the pair-join scaling claims carry a
        # measured point beyond 200k docs. Corpus generation untimed.
        # band_size=4 (2 bands of 4 hashes) is the realistic web-dedup
        # precision setting at this scale: random short zipf docs share
        # enough head terms that band_size=2 floods candidates (the
        # first run of this section cached millions of noise pairs and
        # OOMed a 16g heap). Errors are recorded, not fatal — the rest
        # of the bench line must still reach the driver.
        n_dedup = int(os.environ.get("PYLATE_BENCH_DEDUP_DOCS", "1000000"))
        if n_dedup:
            from pyspark.sql import functions as F0

            from pylate_spark.operators import dedup

            dd_dir = tempfile.mkdtemp(prefix="pylate_bench_dedup_")
            try:
                synth_pages(spark, n_dedup).select(
                    F0.xxhash64("url").alias("doc_id"), "text"
                ).write.mode("overwrite").parquet(dd_dir)
                ddocs = spark.read.parquet(dd_dir)
                t0 = time.time()
                pairs = dedup.lsh_candidate_pairs(
                    ddocs, n_hashes=8, band_size=4, max_bucket_size=2000
                )
                extras[f"lsh_pairs_{n_dedup}"] = pairs.count()
                timings[f"lsh_candidate_pairs_{n_dedup}"] = round(time.time() - t0, 3)
                t0 = time.time()
                spairs = dedup.simhash_near_dup_pairs(
                    ddocs, max_hamming=2, max_bucket_size=2000
                )
                extras[f"simhash_pairs_{n_dedup}"] = spairs.count()
                timings[f"simhash_near_dup_pairs_{n_dedup}"] = round(time.time() - t0, 3)
                # clusters over the PRECISE pair set (simhash, ~5M
                # edges at 1M docs) — the 106M-edge LSH candidate set
                # of this random-zipf corpus is a recall-stage
                # artifact, and clustering it measured 576 s of pure
                # GC pressure that then poisoned every later timing
                t0 = time.time()
                extras[f"dedup_clusters_{n_dedup}"] = (
                    dedup.dedup_clusters(spairs).where("keep").count()
                )
                timings[f"dedup_clusters_{n_dedup}"] = round(time.time() - t0, 3)
            except Exception as e:  # noqa: BLE001 — record, keep benching
                extras["dedup_scale_error"] = f"{type(e).__name__}: {e}"[:200]
            finally:
                shutil.rmtree(dd_dir, ignore_errors=True)

    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(bucket_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "bench_suite_sec (build 200k-doc index + 100-query BM25 top-10 + catalog)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir,
                "n_docs_synth": n_docs,
                "cores": cores,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
