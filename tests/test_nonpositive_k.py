"""k <= 0 returns no rows from the per-doc keyphrase operators, like
their DuckDB twins (``WHERE rank <= k``). A Python ``[:k]`` slice with
k = -1 would drop only the last candidate and return the rest."""

from __future__ import annotations

import pytest

from pke_spark.ops import graph, topicrank, tpr, yake

TEXTS = [
    (1, "Distributed index builds encode posting lists in blocks. "
        "Posting lists compress well when gaps are small."),
    (2, "Keyphrase extraction ranks candidate phrases with graph "
        "centrality over a word co-occurrence graph."),
    (3, "Query serving decodes posting blocks and scores documents "
        "with BM25 over the decoded term frequencies."),
]

OPERATORS = {
    "yake_lite": lambda d, k: yake.yake_lite(d, k),
    "textrank": lambda d, k: graph.textrank_topk(d, k),
    "singlerank": lambda d, k: graph.singlerank_topk(d, k),
    "positionrank": lambda d, k: graph.positionrank_topk(d, k),
    "textrank_top_percent": lambda d, k: graph.textrank_top_percent(d, k),
    "topicrank": lambda d, k: topicrank.topicrank_topk(d, k),
    "multipartiterank": lambda d, k: topicrank.multipartiterank_topk(d, k),
    "topical_pagerank": lambda d, k: tpr.topical_pagerank_topk(
        d, k, model=tpr.load_tpr_cached(d.sparkSession)),
}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string").cache()


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_nonpositive_k_returns_no_rows(docs, name):
    op = OPERATORS[name]
    assert op(docs, 1).count() > 0
    for k in (0, -1, -5):
        assert op(docs, k).count() == 0, (name, k)
