"""Adversarial property test for the fully distributed query path:
on SAMPLED query batches / k against a corpus built to maximize
boundary events (a true stopword in every doc, mid terms, singleton
rares, absent terms), ``search_join`` must be rank-identical to the
exhaustive kernel — the same sampling attack that paid off on the
kernel (``test_kernel_property.py``) and the dedup pipelines
(``test_dedup_property.py``), aimed at the term-scatter join in
``plans/query.py``:

- stopword-only queries (the term every doc holds) must score every
  doc exactly;
- queries with fewer than k matching docs must return all of them;
- absent terms must contribute nothing, alone or mixed in;
- duplicate terms in the query text must not double-count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pylate_spark.config import BM25Params, IndexConfig
from pylate_spark.plans.build import build_index
from pylate_spark.plans.query import InvertedIndex

K_MAX = 12

#: vocabulary tiers: "the" appears in EVERY doc (df = n_docs), mids
#: in ~a third, rares in 1-3 docs
VOCAB = ["the", "mid1", "mid2", "mid3", "rare1", "rare2", "rare3", "zzzabsent"]


def _corpus_pdf(n_docs: int = 60, seed: int = 7) -> pd.DataFrame:
    rng = np.random.Generator(np.random.Philox(key=seed, counter=0))
    texts = []
    for i in range(n_docs):
        words = ["the"] * int(rng.integers(1, 4))
        for m in ("mid1", "mid2", "mid3"):
            if rng.random() < 0.33:
                words += [m] * int(rng.integers(1, 3))
        texts.append(" ".join(rng.permutation(words).tolist()))
    # deterministic singleton/few-doc rares (df 1-3)
    texts[3] += " rare1"
    texts[17] += " rare2 rare2"
    texts[17 + 21] += " rare2"
    texts[5] += " rare3"
    texts[25] += " rare3"
    texts[45] += " rare3"
    return pd.DataFrame(
        {"url": [f"https://p.test/{i:04d}" for i in range(n_docs)], "text": texts}
    )


@pytest.fixture(scope="module")
def tiny_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tp_idx") / "idx")
    pages = spark.createDataFrame(_corpus_pdf())
    cfg = IndexConfig(shard_size=16, block_size=4, term_buckets=8, bm25=BM25Params())
    build_index(spark, pages, d, config=cfg, shards_per_batch=2)
    return InvertedIndex(spark, d)


def _ranked(df):
    return [
        (r["query_id"], r["rank"], r["docid"], r["score"])
        for r in df.orderBy("query_id", "rank").collect()
    ]


@st.composite
def batch_case(draw):
    n_q = draw(st.integers(min_value=1, max_value=5))
    queries = []
    for qid in range(n_q):
        kind = draw(st.sampled_from(["any", "stopword_only", "rare_only", "absent_mix"]))
        if kind == "stopword_only":
            words = ["the"] * draw(st.integers(min_value=1, max_value=3))
        elif kind == "rare_only":
            words = draw(
                st.lists(st.sampled_from(["rare1", "rare2", "rare3"]), min_size=1, max_size=3)
            )
        elif kind == "absent_mix":
            words = ["zzzabsent"] + draw(
                st.lists(st.sampled_from(VOCAB), min_size=0, max_size=3)
            )
        else:
            words = draw(st.lists(st.sampled_from(VOCAB), min_size=1, max_size=5))
        queries.append((qid, " ".join(words)))
    k = draw(st.integers(min_value=1, max_value=K_MAX))
    return queries, k


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=batch_case())
def test_search_join_rank_identical_to_exhaustive(spark, tiny_index, case):
    queries, k = case
    want = _ranked(tiny_index.search(queries, k=k, mode="exhaustive", round_to=4))
    qdf = spark.createDataFrame(pd.DataFrame(queries, columns=["query_id", "text"]))
    got = _ranked(tiny_index.search_join(qdf, k=k, round_to=4))
    assert got == want, (queries, k)
