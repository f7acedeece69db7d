"""Driver-facing query catalog: every implemented operator exposed as
a ``(spark, sf_dir) -> DataFrame`` callable plus (where expressible) an
exactly-equivalent DuckDB SQL oracle string.

Cross-engine determinism rules used throughout (see
``pylate_spark.functions.bm25`` docstring):
- tokens = ``functions.tokenize.token_sql`` / ``native_tokens_col``
  (one shared engine-default definition — unicode ranges — in both);
- every float column is ``round(x, N)`` of float64 math in both, and
  rankings order by the *rounded* value with an id tie-break;
- every hash is md5-hex (identical in Spark/DuckDB/Python);
- counts are BIGINT in both (DuckDB sums cast from HUGEINT);
- timestamps are compared as epoch seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pylate_spark.config import ENGLISH_STOPWORDS
from pylate_spark.functions.tokenize import native_tokens_col, token_sql
from pylate_spark.operators import dedup, multimodal, similarity, textstats
from pylate_spark.plans.query import bm25_scan_topk

TOKEN_SQL = token_sql("text")  # engine-default (unicode) definition
QTOKEN_SQL = token_sql("qtext")
K = 10

#: fixed reference query set over the testdata ``documents`` table
QUERYSET: list[tuple[int, str]] = [
    (0, "join hash"),
    (1, "customer order line"),
    (2, "spark window agg"),
    (3, "vector"),
    (4, "the a of"),
    (5, "zzznotaterm"),
    (6, "data data stream"),
    (7, "slow query batch merge scan"),
]

_QUERY_VALUES = ", ".join(f"({qid}, '{text}')" for qid, text in QUERYSET)

_STOP_SQL = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pylate_spark.sources.reader import read_table

    return read_table(spark, f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pylate_spark.sources.reader import read_table

    return read_table(spark, f"{sf_dir}/embeddings.parquet")


def _queryset_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(QUERYSET, "query_id long, text string")


# ---------------------------------------------------------------- BM25 ----

_BM25_CTES = f"""
WITH docs AS (
  SELECT doc_id, {TOKEN_SQL} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks) AS dl FROM docs WHERE len(toks) > 0),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
  GROUP BY doc_id, term
),
q(query_id, qtext) AS (VALUES {_QUERY_VALUES}),
qt AS (
  SELECT DISTINCT query_id, unnest({QTOKEN_SQL}) AS term
  FROM q
),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
"""


def _bm25_scored_cte(extra_where: str = "TRUE") -> str:
    """The single source of the oracle-side BM25 scoring expression —
    shared by the top-k oracles and the evaluation oracles so the
    formula can never desynchronize between them."""
    return f"""scored AS (
  SELECT qt.query_id, tf.doc_id AS docid,
         sum( ln((s.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score_raw
  FROM qt
  JOIN tf USING (term)
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE {extra_where}
  GROUP BY qt.query_id, tf.doc_id
)"""


def _bm25_sql(extra_where: str = "TRUE") -> str:
    return f"""{_BM25_CTES},
{_bm25_scored_cte(extra_where)},
ranked AS (
  SELECT query_id, docid, round(score_raw, 4) AS score,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY round(score_raw, 4) DESC, docid ASC
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, rank, docid, score FROM ranked WHERE rank <= {K}
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("docid"), "text")
    return bm25_scan_topk(docs, _queryset_df(spark), k=K, round_to=4)


def q_bm25_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allow-list search: stats over the full corpus, candidates
    restricted to docid % 3 == 0 (the reference's subset filter)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("docid"), "text")
    return bm25_scan_topk(
        docs, _queryset_df(spark), k=K, round_to=4, allowed_filter=F.col("docid") % 3 == 0
    )


def q_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND semantics: only docs containing every query term."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("docid"), "text")
    return bm25_scan_topk(docs, _queryset_df(spark), k=K, round_to=4, conjunctive=True)


_INDEX_CACHE: dict[str, str] = {}


def _indexed(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) a real index over the
    documents table; shared by the indexed-path catalog entries."""
    if sf_dir not in _INDEX_CACHE:
        import tempfile

        from pylate_spark.config import IndexConfig
        from pylate_spark.plans.build import build_index

        d = tempfile.mkdtemp(prefix="pylate_idx_")
        build_index(
            spark,
            _docs(spark, sf_dir).select("doc_id", "text"),
            d,
            config=IndexConfig(shard_size=2048, block_size=128, term_buckets=16),
            shards_per_batch=16,
            key_col="doc_id",
            text_col="text",
        )
        _INDEX_CACHE[sf_dir] = d
    return _INDEX_CACHE[sf_dir]


def q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real engine path (build index → block-max cascade search) over
    the documents table, emitting rounded float64 scores ranked by the
    rounded value — so the whole indexed pipeline (SPIMI build → codec →
    pruning kernel → top-k merge) is value-hash-checked against the same
    DuckDB oracle as the scan path."""
    from pylate_spark.plans.query import InvertedIndex

    return InvertedIndex(spark, _indexed(spark, sf_dir)).search(
        QUERYSET, k=K, mode="auto", round_to=4
    )


def q_bm25_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully distributed query path (scatter by term: distributed
    tokenize → semi-join-pruned segment decode → join scoring → top-k
    merge; nothing driver-side) over the SAME built index — value-hash
    checked against the same DuckDB oracle as the kernel path, so the
    two plans are pinned rank-identical."""
    from pylate_spark.plans.query import InvertedIndex

    return InvertedIndex(spark, _indexed(spark, sf_dir)).search_join(
        _queryset_df(spark), k=K, round_to=4
    )


def q_bm25_join_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed path's allow-list: candidates restricted to
    docid % 3 == 0 with global corpus stats — must hash-match the same
    subset oracle as the kernel/scan paths (reference semantics,
    fast_plaid.py:318-340), exercising the subset semi-join on the
    decoded postings."""
    from pylate_spark.plans.query import InvertedIndex

    idx = InvertedIndex(spark, _indexed(spark, sf_dir))
    return idx.search_join(
        _queryset_df(spark), k=K, round_to=4, subset=list(range(0, idx.n_docs, 3))
    )


def q_term_stats_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global term statistics read back from the BUILT index — integer
    outputs, so the whole SPIMI pipeline (tokenize → shard shuffle →
    block encode → stats merge) is value-hash-checked against DuckDB."""
    from pylate_spark.plans.build import IndexPaths, active_dir, load_manifest

    d = _indexed(spark, sf_dir)
    paths = IndexPaths(d)
    ts = spark.read.parquet(active_dir(paths, load_manifest(paths), "term_stats"))
    return (
        ts.select("term", "df", "cf")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


def q_doc_vectors_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed representations of fixed docids decoded back out of the
    posting payloads (selective block decode) — integer outputs, so the
    varint/delta codec roundtrip is value-hash-checked against DuckDB's
    direct tokenization."""
    from pylate_spark.plans.query import InvertedIndex

    idx = InvertedIndex(spark, _indexed(spark, sf_dir))
    return idx.doc_vectors([3, 7, 11, 42]).select(
        "docid", "term", F.col("tf").cast("long").alias("tf"), F.col("dl").cast("int").alias("dl")
    )


SQL_DOC_VECTORS = f"""
WITH toks AS (
  SELECT doc_id AS docid, {TOKEN_SQL} AS t FROM documents WHERE doc_id IN (3, 7, 11, 42)
)
SELECT docid, term, CAST(count(*) AS BIGINT) AS tf,
       CAST(any_value(ln) AS INTEGER) AS dl
FROM (SELECT docid, unnest(t) AS term, len(t) AS ln FROM toks)
GROUP BY docid, term
"""


# ------------------------------------------------------- corpus analysis --

def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = native_tokens_col("text")
    base = (
        _docs(spark, sf_dir)
        .select(F.size(toks).alias("dl"), toks.alias("toks"))
        .where(F.col("dl") > 0)
    )
    s1 = base.agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("dl"), 6).alias("avgdl"))
    s2 = base.select(F.explode("toks").alias("term")).agg(
        F.count_distinct("term").alias("vocab_size")
    )
    return s1.crossJoin(s2)


SQL_CORPUS_STATS = f"""
WITH docs AS (SELECT {TOKEN_SQL} AS toks FROM documents),
dl AS (SELECT len(toks) AS dl, toks FROM docs WHERE len(toks) > 0)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(dl), 6) AS avgdl,
       CAST((SELECT count(DISTINCT term) FROM (SELECT unnest(toks) AS term FROM dl)) AS BIGINT) AS vocab_size
FROM dl
"""


def q_term_df_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    tl = _docs(spark, sf_dir).select(
        "doc_id", F.explode(native_tokens_col("text")).alias("term")
    )
    return (
        tl.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"), F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


SQL_TERM_DF_TOP100 = f"""
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df, CAST(count(*) AS BIGINT) AS cf
FROM (SELECT doc_id, unnest({TOKEN_SQL}) AS term FROM documents)
GROUP BY term ORDER BY df DESC, term ASC LIMIT 100
"""


def q_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("docid"), F.size(native_tokens_col("text")).alias("dl"))
    )


SQL_DOC_LENGTHS = f"""
SELECT doc_id AS docid, CAST(len({TOKEN_SQL}) AS INTEGER) AS dl
FROM documents WHERE doc_id < 100
"""


def q_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 20)
    return (
        d.select(F.col("doc_id").alias("docid"), F.explode(native_tokens_col("text")).alias("term"))
        .groupBy("docid", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


SQL_TOKENIZE_TF = f"""
SELECT doc_id AS docid, term, CAST(count(*) AS BIGINT) AS tf
FROM (SELECT doc_id, unnest({TOKEN_SQL}) AS term FROM documents WHERE doc_id < 20)
GROUP BY doc_id, term
"""

#: fixed multilingual fixture — exercises the unicode token definition
#: (functions/tokenize.WORD_RANGES) across scripts, including the two
#: case-fold repairs the engines disagree on (word-final Σ → σ fold,
#: İ → i + stripped combining dot). No apostrophes: the texts embed in
#: a SQL VALUES list verbatim.
UNICODE_DOCS: list[tuple[int, str]] = [
    (0, "Grüße aus MÜNCHEN — schön!"),
    (1, "ΑΣ και ΒΟΥΣ στην ΕΛΛΑΔΑ"),
    (2, "İstanbul VE ısı Türkçe"),
    (3, "Привет, мир! Москва 42"),
    (4, "日本語のテキスト 한국어 テスト"),
    (5, "مرحبا بالعالم שלום עולם"),
    (6, "नमस्ते दुनिया สวัสดี ๑๒๓"),
    (7, "Tiếng Việt rất hay ẞ groß"),
    (8, "mixed ASCII and ελληνικά words 123"),
    (9, "...!!! — ¿no token runs? sí: 42µ"),
]


def q_tokenize_tf_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.createDataFrame(UNICODE_DOCS, "doc_id long, text string")
    return (
        d.select(
            F.col("doc_id").alias("docid"),
            F.explode(native_tokens_col("text")).alias("term"),
        )
        .groupBy("docid", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


_UNICODE_VALUES = ", ".join(f"({i}, '{t}')" for i, t in UNICODE_DOCS)

SQL_TOKENIZE_TF_UNICODE = f"""
SELECT doc_id AS docid, term, CAST(count(*) AS BIGINT) AS tf
FROM (
  SELECT doc_id, unnest({TOKEN_SQL}) AS term
  FROM (SELECT * FROM (VALUES {_UNICODE_VALUES}) AS v(doc_id, text))
)
GROUP BY doc_id, term
"""


# ------------------------------------------------------------- dedup ------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH h AS (
  SELECT doc_id, md5(array_to_string({TOKEN_SQL}, ' ')) AS text_hash FROM documents
)
SELECT doc_id, text_hash,
       CAST(count(*) OVER (PARTITION BY text_hash) AS BIGINT) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY text_hash) AS keep
FROM h
"""


N_MINHASH = 4


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(_docs(spark, sf_dir), n_hashes=N_MINHASH)


def _minhash_sql() -> str:
    selects = [
        f"SELECT doc_id, {i} AS h, min(md5(term || '#{i}')) AS minhash FROM terms GROUP BY doc_id"
        for i in range(N_MINHASH)
    ]
    u = " UNION ALL ".join(selects)
    return f"""
WITH terms AS (
  SELECT DISTINCT doc_id, unnest({TOKEN_SQL}) AS term FROM documents
)
SELECT doc_id, CAST(h AS INTEGER) AS h, minhash FROM ({u})
"""


SQL_MINHASH = _minhash_sql()


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_candidate_pairs(_docs(spark, sf_dir), n_hashes=4, band_size=2)


SQL_LSH_PAIRS = f"""
WITH terms AS (
  SELECT DISTINCT doc_id, unnest({TOKEN_SQL}) AS term FROM documents
),
sig AS (
  SELECT doc_id,
         min(md5(term || '#0')) AS mh0, min(md5(term || '#1')) AS mh1,
         min(md5(term || '#2')) AS mh2, min(md5(term || '#3')) AS mh3
  FROM terms GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band,
         md5(least(mh0, mh1) || '|' || greatest(mh0, mh1)) AS band_hash FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band,
         md5(least(mh2, mh3) || '|' || greatest(mh2, mh3)) AS band_hash FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs → connected components → duplicate clusters:
    the keep-one-per-group step after candidate generation."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.lsh_candidate_pairs(docs, n_hashes=4, band_size=2)
    return dedup.dedup_clusters(pairs, docs=docs)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE terms AS (
  SELECT DISTINCT doc_id, unnest({TOKEN_SQL}) AS term FROM documents
),
sig AS (
  SELECT doc_id,
         min(md5(term || '#0')) AS mh0, min(md5(term || '#1')) AS mh1,
         min(md5(term || '#2')) AS mh2, min(md5(term || '#3')) AS mh3
  FROM terms GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band,
         md5(least(mh0, mh1) || '|' || greatest(mh0, mh1)) AS band_hash FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band,
         md5(least(mh2, mh3) || '|' || greatest(mh2, mh3)) AS band_hash FROM sig
),
edges AS (
  SELECT DISTINCT a.doc_id AS s, b.doc_id AS t
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id != b.doc_id
),
reach(s, t) AS (
  SELECT s, t FROM edges
  UNION
  SELECT r.s, e.t FROM reach r JOIN edges e ON e.s = r.t WHERE e.t != r.s
),
comp AS (
  SELECT s AS doc_id, least(s, min(t)) AS cluster_id FROM reach GROUP BY s
)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(c.cluster_id, d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


SIMHASH_BITS = 32


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir), bits=SIMHASH_BITS)


def _simhash_sql() -> str:
    votes = ",\n    ".join(
        f"sum(tf * CASE WHEN substr(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf, md5(term) AS h
  FROM (SELECT doc_id, unnest({TOKEN_SQL}) AS term FROM documents)
  GROUP BY doc_id, term
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
"""


SQL_SIMHASH = _simhash_sql()

SIMHASH_MAX_HAMMING = 6


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pylate has no Hamming pairing (its near-dup story is vector
    similarity); this is the classic web-dedup completion of simhash —
    banded pigeonhole candidates + exact bit_count(xor) filter, never
    all-pairs (operators/dedup.py:simhash_near_dup_pairs)."""
    return dedup.simhash_near_dup_pairs(
        _docs(spark, sf_dir), max_hamming=SIMHASH_MAX_HAMMING, bits=SIMHASH_BITS
    )


def _simhash_pairs_oracle() -> str:
    # brute-force all-pairs over the same simhash CTE — exactly what
    # the banded pigeonhole plan must reproduce
    base = _simhash_sql().strip()
    return f"""
WITH sh AS (
{base}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


JACCARD_SCOPE = 120


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("doc_id") < JACCARD_SCOPE)
    return dedup.ngram_jaccard_pairs(d, n=3, min_jaccard=0.02)


SQL_NGRAM_JACCARD = f"""
WITH docs AS (
  SELECT doc_id, {TOKEN_SQL} AS toks FROM documents WHERE doc_id < {JACCARD_SCOPE}
),
idx AS (
  SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i FROM docs
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
  FROM idx
  WHERE array_to_string(list_slice(toks, i, i + 2), ' ') != ''
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.02
"""


# -------------------------------------------------------- similarity ------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.cosine_topk(emb, queries, k=K)


SQL_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.qid, e.vec_id, q.qe, e.embedding AS ee
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.qid
),
flat AS (
  SELECT qid, vec_id, CAST(unnest(qe) AS DOUBLE) AS x, CAST(unnest(ee) AS DOUBLE) AS y
  FROM pairs
),
dots AS (
  SELECT qid, vec_id, sum(x * y) AS d, sqrt(sum(x * x)) AS nq, sqrt(sum(y * y)) AS nv
  FROM flat GROUP BY qid, vec_id
),
ranked AS (
  SELECT qid, vec_id, round(d / (nv * nq), 4) AS cos_sim,
         CAST(row_number() OVER (
           PARTITION BY qid ORDER BY round(d / (nv * nq), 4) DESC, vec_id ASC
         ) AS INTEGER) AS rank
  FROM dots
)
SELECT qid, rank, vec_id, cos_sim FROM ranked WHERE rank <= {K}
"""


ANN_PLANES, ANN_PROBE, ANN_NQ = 6, 7, 5


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed IVF top-k. Approximate w.r.t. exact cosine top-k
    (recall measured by the bench), but DETERMINISTIC given the seeded
    hyperplanes — so DuckDB can replicate the probe exactly and the
    entry is value-hash-oracled like everything else."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.ivf_topk(
        emb, queries, k=K, n_planes=ANN_PLANES, dim=64, n_probe=ANN_PROBE
    )


def _ann_ivf_sql(k: int = K, n_planes: int = ANN_PLANES, dim: int = 64,
                 seed: int = 42, n_probe: int = ANN_PROBE, n_q: int = ANN_NQ) -> str:
    """Exact DuckDB replica of :func:`similarity.ivf_topk`: same seeded
    hyperplanes (inlined double literals), same sign-bit bucketing,
    same Hamming-weight-ordered multi-probe masks, same rounded-cosine
    ranking with vec_id tie-break."""
    from pylate_spark.operators.similarity import _hyperplanes, _probe_masks

    planes = _hyperplanes(dim, n_planes, seed=seed)
    bucket = " + ".join(
        f"CASE WHEN list_inner_product(v, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes)
    )
    probe = ", ".join(f"xor(q.bucket, {m})" for m in _probe_masks(n_planes, n_probe))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv, ({bucket}) AS bucket FROM e
),
q AS (SELECT vec_id AS qid, v AS qv, nv AS nq, bucket FROM b WHERE vec_id < {n_q}),
cand AS (
  SELECT q.qid, e2.vec_id,
         round(list_inner_product(e2.v, q.qv) / (e2.nv * q.nq), 4) AS cos_sim
  FROM b e2 JOIN q ON e2.bucket IN ({probe}) AND e2.vec_id != q.qid
),
ranked AS (
  SELECT qid, vec_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC
         ) AS INTEGER) AS rank
  FROM cand
)
SELECT qid, rank, vec_id, cos_sim FROM ranked WHERE rank <= {k}
"""


_BUCKETED_CACHE: dict[str, str] = {}


def _bucketed(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf_dir per process) the bucket-partitioned
    embedding layout; shared by the persisted-ANN catalog entry."""
    if sf_dir not in _BUCKETED_CACHE:
        import tempfile

        from pylate_spark.operators.similarity import write_bucketed_embeddings

        d = tempfile.mkdtemp(prefix="pylate_emb_buckets_")
        write_bucketed_embeddings(
            _emb(spark, sf_dir), d, n_planes=ANN_PLANES, dim=64
        )
        _BUCKETED_CACHE[sf_dir] = d
    return _BUCKETED_CACHE[sf_dir]


def q_ann_ivf_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-layout ANN probe (bucket as a partition column →
    PartitionFilters-pruned scan) — must hash-match the SAME DuckDB
    oracle as the full-scan ivf_topk: the layout changes where the
    bytes live, never the result."""
    from pylate_spark.operators.similarity import ivf_topk_bucketed

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < ANN_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_topk_bucketed(
        spark, _bucketed(spark, sf_dir), queries, k=K, n_probe=ANN_PROBE
    )


NEAR_DUP_MIN_COS = 0.35  # testdata embeddings are near-orthogonal
                         # (max pairwise cos ≈ 0.51); this threshold
                         # makes the operator provably non-vacuous at
                         # every test scale


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs over embeddings. Fully oracle-checked: the
    hyperplanes are deterministic (seeded Philox), so the DuckDB oracle
    inlines them as literals and replicates the bucketing exactly —
    the check covers the LSH itself, not just the cosine filter."""
    return similarity.embedding_near_dup_pairs(
        _emb(spark, sf_dir), min_cos=NEAR_DUP_MIN_COS, n_planes=8, dim=64
    )


def _near_dup_sql(min_cos: float = NEAR_DUP_MIN_COS, n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """Exact DuckDB replica of :func:`similarity.embedding_near_dup_pairs`:
    same seeded hyperplanes (inlined as double literals — Python float
    repr round-trips exactly), same sign-bit bucketing, same rounded
    cosine filter."""
    from pylate_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=seed)
    bucket = " + ".join(
        f"CASE WHEN list_inner_product(v, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv, ({bucket}) AS bucket FROM e
)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       round(list_inner_product(a.v, c.v) / (a.nv * c.nv), 4) AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_inner_product(a.v, c.v) / (a.nv * c.nv), 4) >= {min_cos}
"""


# --------------------------------------------------------- text stats -----

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(_docs(spark, sf_dir))


SQL_LANG_ID = f"""
WITH d AS (
  SELECT doc_id, {TOKEN_SQL} AS toks FROM documents
),
r AS (
  SELECT doc_id,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS ratio
  FROM d
)
SELECT doc_id, round(ratio, 4) AS en_ratio,
       CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred
FROM r
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_features(_docs(spark, sf_dir))


SQL_QUALITY = f"""
WITH d AS (
  SELECT doc_id, text, {TOKEN_SQL} AS toks FROM documents
),
feats AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text)
              ELSE 0.0 END AS punct_ratio
  FROM d
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       round(stop_ratio, 4) AS stopword_ratio,
       round(punct_ratio, 4) AS punct_ratio,
       round(CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.0 END
             * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
             * (0.5 + 0.5 * stop_ratio), 4) AS quality
FROM feats
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_docs(spark, sf_dir))


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens,
       CAST(len({TOKEN_SQL}) AS INTEGER) AS n_tokens,
       CAST(length(text) AS INTEGER) AS n_chars
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(_docs(spark, sf_dir))


SQL_FINGERPRINT = f"""
WITH d AS (SELECT doc_id, {TOKEN_SQL} AS toks FROM documents),
idx AS (
  SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 4, 1) + 1)) AS i
  FROM d WHERE len(toks) > 0
),
sh AS (
  SELECT doc_id, md5(array_to_string(list_slice(toks, i, i + 4), ' ')) AS h FROM idx
),
agg AS (SELECT doc_id, min(h) AS min_shingle_hash FROM sh GROUP BY doc_id)
SELECT d.doc_id, md5(array_to_string(d.toks, ' ')) AS text_hash, agg.min_shingle_hash
FROM d LEFT JOIN agg USING (doc_id)
"""


# ------------------------------------------------------- evaluation -------

def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end quality evaluation through the REAL engine path:
    build index → auto-mode search → distributed nDCG@10 against
    deterministic term-overlap qrels — the reference's BEIR evaluate
    pipeline (``evaluation/beir.py:143-207``) made oracle-checkable."""
    from pylate_spark.evaluation import term_overlap_qrels
    from pylate_spark.operators.metrics import ndcg_at_k
    from pylate_spark.plans.query import InvertedIndex

    results = InvertedIndex(spark, _indexed(spark, sf_dir)).search(
        QUERYSET, k=K, mode="auto", round_to=4
    )
    qrels = term_overlap_qrels(_docs(spark, sf_dir), _queryset_df(spark), max_docid=500)
    return ndcg_at_k(results, qrels, k=K)


def q_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 through the real engine path (same qrels as eval_ndcg);
    integer-free fraction rounded to 6 — hash-checked against DuckDB."""
    from pylate_spark.evaluation import term_overlap_qrels
    from pylate_spark.operators.metrics import recall_at_k
    from pylate_spark.plans.query import InvertedIndex

    results = InvertedIndex(spark, _indexed(spark, sf_dir)).search(
        QUERYSET, k=K, mode="auto", round_to=4
    )
    qrels = term_overlap_qrels(_docs(spark, sf_dir), _queryset_df(spark), max_docid=500)
    return recall_at_k(results, qrels, k=K)


_EVAL_RANKED_QRELS = f"""
{_bm25_scored_cte()},
ranked AS (
  SELECT query_id, docid,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY round(score_raw, 4) DESC, docid ASC
         ) AS INTEGER) AS rank
  FROM scored
),
qrels AS (
  SELECT qt.query_id, tf.doc_id AS docid,
         CAST(count(DISTINCT qt.term) AS BIGINT) AS relevance
  FROM qt JOIN tf USING (term) WHERE tf.doc_id < 500
  GROUP BY qt.query_id, tf.doc_id
)"""


def _eval_recall_sql() -> str:
    return f"""{_BM25_CTES},
{_EVAL_RANKED_QRELS},
n_rel AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel FROM qrels
  WHERE relevance > 0 GROUP BY query_id
),
found AS (
  SELECT r.query_id, CAST(count(*) AS BIGINT) AS n_found
  FROM ranked r JOIN qrels q ON r.query_id = q.query_id AND r.docid = q.docid
  WHERE r.rank <= {K} AND q.relevance > 0 GROUP BY r.query_id
)
SELECT n.query_id, round(coalesce(f.n_found, 0) / CAST(n.n_rel AS DOUBLE), 6) AS recall
FROM n_rel n LEFT JOIN found f USING (query_id)
"""


def _eval_ndcg_sql() -> str:
    return f"""{_BM25_CTES},
{_EVAL_RANKED_QRELS},
dcg AS (
  SELECT r.query_id,
         sum((pow(2.0, q.relevance) - 1) / log2(r.rank + 1)) AS dcg
  FROM ranked r JOIN qrels q ON r.query_id = q.query_id AND r.docid = q.docid
  WHERE r.rank <= {K} GROUP BY r.query_id
),
ideal AS (
  SELECT query_id, sum(igain) AS idcg FROM (
    SELECT query_id, (pow(2.0, relevance) - 1) / log2(irank + 1) AS igain
    FROM (
      SELECT query_id, relevance, docid,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY relevance DESC, docid ASC) AS irank
      FROM qrels
    ) WHERE irank <= {K}
  ) GROUP BY query_id
)
SELECT i.query_id,
       CASE WHEN i.idcg > 0 THEN round(coalesce(d.dcg, 0.0) / i.idcg, 6)
            ELSE 0.0 END AS ndcg
FROM ideal i LEFT JOIN dcg d USING (query_id)
"""


# ------------------------------------------------------ generic / events --

def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_WINDOW = """
SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("l_returnflag", "rank", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


SQL_TOPK_PER_GROUP = """
SELECT l_returnflag, CAST(rank AS INTEGER) AS rank, l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY l_returnflag
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
  ) AS rank
  FROM lineitem
) WHERE rank <= 3
"""


def q_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


SQL_REVENUE_BY_SEGMENT = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ------------------------------------------------------------ catalog -----

def catalog() -> dict[str, tuple]:
    """name -> (callable, oracle_sql | None)."""
    return {
        "bm25_topk": (q_bm25_topk, _bm25_sql()),
        "bm25_subset": (q_bm25_subset, _bm25_sql(extra_where="tf.doc_id % 3 = 0")),
        "bm25_conjunctive": (q_bm25_conjunctive, _bm25_conjunctive_sql()),
        "bm25_topk_indexed": (q_bm25_topk_indexed, _bm25_sql()),
        "bm25_join_topk": (q_bm25_join_topk, _bm25_sql()),
        "bm25_join_subset": (q_bm25_join_subset, _bm25_sql(extra_where="tf.doc_id % 3 = 0")),
        "term_stats_indexed": (q_term_stats_indexed, SQL_TERM_DF_TOP100),
        "doc_vectors_indexed": (q_doc_vectors_indexed, SQL_DOC_VECTORS),
        "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
        "term_df_top100": (q_term_df_top100, SQL_TERM_DF_TOP100),
        "doc_lengths": (q_doc_lengths, SQL_DOC_LENGTHS),
        "tokenize_tf": (q_tokenize_tf, SQL_TOKENIZE_TF),
        "tokenize_tf_unicode": (q_tokenize_tf_unicode, SQL_TOKENIZE_TF_UNICODE),
        "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
        "minhash_signatures": (q_minhash, SQL_MINHASH),
        "lsh_candidate_pairs": (q_lsh_pairs, SQL_LSH_PAIRS),
        "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
        "simhash": (q_simhash, SQL_SIMHASH),
        "simhash_near_dup_pairs": (q_simhash_pairs, _simhash_pairs_oracle()),
        "ngram_jaccard_pairs": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
        "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
        "ann_ivf_topk": (q_ann_ivf_topk, _ann_ivf_sql()),
        "ann_ivf_topk_bucketed": (q_ann_ivf_topk_bucketed, _ann_ivf_sql()),
        "embedding_near_dups": (q_embedding_near_dups, _near_dup_sql()),
        "eval_ndcg": (q_eval_ndcg, _eval_ndcg_sql()),
        "eval_recall": (q_eval_recall, _eval_recall_sql()),
        "lang_id": (q_lang_id, SQL_LANG_ID),
        "quality_features": (q_quality, SQL_QUALITY),
        "token_count": (q_token_count, SQL_TOKEN_COUNT),
        "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
        "events_window": (q_events_window, SQL_EVENTS_WINDOW),
        "topk_per_group": (q_topk_per_group, SQL_TOPK_PER_GROUP),
        "revenue_by_segment": (q_revenue_by_segment, SQL_REVENUE_BY_SEGMENT),
    }


def _bm25_conjunctive_sql() -> str:
    return f"""{_BM25_CTES},
qsizes AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY query_id),
matched AS (
  SELECT qt.query_id, tf.doc_id AS docid,
         sum( ln((s.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score_raw,
         count(*) AS n_matched
  FROM qt
  JOIN tf USING (term)
  JOIN dfs USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY qt.query_id, tf.doc_id
),
ranked AS (
  SELECT m.query_id, m.docid, round(m.score_raw, 4) AS score,
         CAST(row_number() OVER (
           PARTITION BY m.query_id ORDER BY round(m.score_raw, 4) DESC, m.docid ASC
         ) AS INTEGER) AS rank
  FROM matched m JOIN qsizes USING (query_id)
  WHERE m.n_matched = qsizes.n_terms
)
SELECT query_id, rank, docid, score FROM ranked WHERE rank <= {K}
"""
