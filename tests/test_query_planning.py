"""Driver-side planning cost of ``search`` and the kernel's mode routing.

- :func:`pylate_spark.functions.predicates.in_list` filters exactly like
  ``Column.isin``, with a gateway-call count that does not grow with
  the list, and still reaches the Parquet scan as a pushed ``In``.
- ``score_shard(mode="auto")`` scores a batch-amortized batch (more
  than ``BATCH_AMORTIZED_QUERIES`` queries) exhaustively and routes a
  smaller batch through ``choose_mode``; both stay rank-identical to
  ``mode="exhaustive"``.
"""

from __future__ import annotations

import contextlib
import io
import re
import zlib

import numpy as np
import pandas as pd
import pytest

from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.functions.bm25 import idf_np
from pylate_spark.functions.predicates import in_list
from pylate_spark.plans import wand
from pylate_spark.plans.build import build_index
from pylate_spark.plans.query import InvertedIndex
from pylate_spark.plans.segments import encode_group_arrow

N_DOCS, TERMS_PER_DOC = 200, 12  # 2,400 distinct terms, one doc each


def _term(doc: int, j: int) -> str:
    return f"d{doc:03d}x{j:02d}"


@pytest.fixture(scope="module")
def wide_index(spark, tmp_path_factory):
    """An index whose vocabulary is large enough for a 2,000-term batch:
    doc i holds exactly the terms ``_term(i, 0..11)``."""
    pdf = pd.DataFrame(
        {
            "url": [f"https://wide.example/{i:04d}" for i in range(N_DOCS)],
            "text": [
                " ".join(_term(i, j) for j in range(TERMS_PER_DOC)) for i in range(N_DOCS)
            ],
        }
    )
    d = str(tmp_path_factory.mktemp("wide") / "idx")
    build_index(
        spark,
        spark.createDataFrame(pdf),
        d,
        config=IndexConfig(shard_size=64, block_size=16, term_buckets=8),
        shards_per_batch=4,
    )
    return d


@contextlib.contextmanager
def _count_gateway_calls(spark, monkeypatch):
    """Counts the py4j commands the driver sends to the JVM, except the
    proxy releases (``m`` commands) that Python's garbage collector
    sends for objects of earlier work whenever it happens to run."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        calls[0] += not command.startswith("m\n")
        return send(command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        yield calls


def _batch(docs: range) -> list[tuple[int, str]]:
    """One query per doc, each naming all of that doc's terms."""
    return [(i, " ".join(_term(i, j) for j in range(TERMS_PER_DOC))) for i in docs]


def test_search_planning_calls_do_not_grow_with_terms(spark, wide_index, monkeypatch):
    """Planning (term-stats lookup + building the scan/kernel plan) of a
    2,000-term batch costs about as many gateway calls as a 10-term
    one. With ``Column.isin`` each literal cost several calls, so the
    2,000-term batch paid thousands more."""
    idx = InvertedIndex(spark, wide_index)
    idx.search(_batch(range(199, 200)), k=3)  # warm the handle's lazy state
    with _count_gateway_calls(spark, monkeypatch) as small:
        idx.search([(0, " ".join(_term(0, j) for j in range(10)))], k=3)
    big_batch = _batch(range(1, 167)) + [(167, " ".join(_term(167, j) for j in range(8)))]
    assert sum(len(t.split()) for _, t in big_batch) == 2000
    with _count_gateway_calls(spark, monkeypatch) as big:
        res = idx.search(big_batch, k=3)
    assert abs(big[0] - small[0]) <= 20, (small[0], big[0])  # isin: 421 vs 17,346
    top = {(r["query_id"], r["docid"]) for r in res.where("rank = 1").collect()}
    assert top == {(i, i) for i in range(1, 168)}


def test_search_scan_still_pushes_term_in(spark, wide_index):
    """The one-call filter is the same Catalyst ``In``/``InSet``: the
    segment scan pushes an ``In`` on ``term`` and prunes ``bucket``."""
    idx = InvertedIndex(spark, wide_index)
    three_terms = [(0, " ".join(_term(0, j) for j in range(3)))]
    for qs in (three_terms, _batch(range(0, 5))):  # In and InSet sizes
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            idx.search(qs, k=3).explain("formatted")
        plan = buf.getvalue()
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any(re.search(r"\bIn\(term, ", p) for p in pushed), plan
        parts = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert any(re.search(r"bucket.* (IN |INSET )", p) for p in parts), plan


STRINGS = ["plain", "it's", "back\\slash", "\\'", "x\\\\'y", "''", "", "naïve", "tab\there"]


@pytest.mark.parametrize(
    "values, escaped_literals",
    [(STRINGS, "false"), (STRINGS, "true"), ([0, 3, 2**40, -7], "false")],
    ids=["strings", "strings-escapedStringLiterals", "ints"],
)
def test_in_list_filters_like_isin(spark, values, escaped_literals):
    """Same rows as ``isin`` on quotes, backslashes, empty and non-ASCII
    strings — also under the parser setting that turns escapes off —
    and on ints beyond int32; an empty list keeps no row."""
    from pyspark.sql import functions as F

    pool = values + (["other", "it", "back"] if isinstance(values[0], str) else [1, 5, 2**41])
    df = spark.createDataFrame([(i, v) for i, v in enumerate(pool)], ["i", "v"])
    conf = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(conf, escaped_literals)
    try:
        for sub in (values, values[:1], values[1::2]):
            want = sorted(r["i"] for r in df.where(F.col("v").isin(sub)).collect())
            got = sorted(r["i"] for r in df.where(in_list("v", sub)).collect())
            assert got == want == [pool.index(v) for v in sorted(set(sub), key=pool.index)]
        assert df.where(in_list("v", [])).count() == 0
    finally:
        spark.conf.unset(conf)


# --- kernel routing ----------------------------------------------------------

PARAMS = BM25Params()
SHARD_SIZE = 512


def _shard_rows(seed: int = 5):
    """One encoded shard: 300 docs over an 8-term vocabulary."""
    rng = np.random.default_rng(seed)
    vocab = [f"t{i}" for i in range(8)]
    docids = np.sort(rng.choice(SHARD_SIZE, 300, replace=False)).astype(np.int64)
    tf = rng.integers(0, 4, size=(docids.size, len(vocab)))
    tf[tf.sum(axis=1) == 0, 0] = 1
    dl = tf.sum(axis=1)
    cols = {"term": [], "docid": [], "tf": [], "dl": []}
    for j, t in enumerate(vocab):
        has = tf[:, j] > 0
        cols["term"] += [t] * int(has.sum())
        cols["docid"] += docids[has].tolist()
        cols["tf"] += tf[has, j].tolist()
        cols["dl"] += dl[has].tolist()
    n = len(cols["term"])
    pdf = encode_group_arrow(
        np.zeros(n, dtype=np.int64),
        np.array([zlib.crc32(t.encode()) % 8 for t in cols["term"]], dtype=np.int64),
        np.array(cols["term"], dtype=object),
        *(np.array(cols[c], dtype=np.int64) for c in ("docid", "tf", "dl")),
        16,
    ).to_pandas()
    idf = {t: float(idf_np(int((tf[:, j] > 0).sum()), 10_000)) for j, t in enumerate(vocab)}
    return pd.DataFrame(pdf), vocab, idf, float(dl.mean())


def _queries(vocab, n: int, seed: int = 9) -> dict[int, list[str]]:
    rng = np.random.default_rng(seed)
    return {q: sorted(rng.choice(vocab, 3, replace=False).tolist()) for q in range(n)}


def _score(pdf, queries, idf, avgdl, mode):
    out = wand.score_shard(pdf, queries, idf, avgdl, 5, PARAMS, mode=mode, shard_size=SHARD_SIZE)
    return out.sort_values(["query_id", "score", "docid"], ascending=[True, False, True])


@pytest.mark.parametrize("n_queries", [wand.BATCH_AMORTIZED_QUERIES + 1, 40])
def test_auto_skips_cascade_on_batch_amortized_shard(monkeypatch, n_queries):
    pdf, vocab, idf, avgdl = _shard_rows()
    queries = _queries(vocab, n_queries)
    want = _score(pdf, queries, idf, avgdl, "exhaustive")

    def boom(*a, **kw):
        raise AssertionError("auto entered the cascade on a batch-amortized shard")

    monkeypatch.setattr(wand, "_score_cascade", boom)
    got = _score(pdf, queries, idf, avgdl, "auto")
    assert len(got) == 5 * n_queries
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


@pytest.mark.parametrize("n_queries", [1, wand.BATCH_AMORTIZED_QUERIES])
def test_auto_runs_cascade_on_small_batches(monkeypatch, n_queries):
    pdf, vocab, idf, avgdl = _shard_rows()
    queries = _queries(vocab, n_queries)
    want = _score(pdf, queries, idf, avgdl, "exhaustive")
    cascade, calls = wand._score_cascade, [0]

    def counting(*a, **kw):
        calls[0] += 1
        return cascade(*a, **kw)

    monkeypatch.setattr(wand, "_score_cascade", counting)
    got = _score(pdf, queries, idf, avgdl, "auto")
    assert calls[0] == n_queries  # every 3-term query went through choose_mode → cascade
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))
