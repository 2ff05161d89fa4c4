"""The BM25-family search wrappers share one term table, one scorer and
one empty-query guard (operators/query.py::_term_table / _bm25_scored).
Here: every wrapper returns the same (query_id, doc_id, score) columns,
and an empty query returns the empty result without touching the index.
"""

from __future__ import annotations

import pytest

from search_engine_spark.operators import query as Q
from search_engine_spark.operators.index_build import InvertedIndex, build_index
from search_engine_spark.operators.text_analytics import ws_tokens

DOCS = [
    (1, "spark merge spark line"),
    (2, "spark line line line"),
    (3, "merge line line line"),
    (4, "stream stream line line"),
]
RESULT = "struct<query_id:int,doc_id:bigint,score:double>"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def index(docs):
    return build_index(docs, tokenizer=ws_tokens).cache()


def _wrappers(spark, index, docs, terms, queries):
    ages = spark.createDataFrame(
        [(d, 1.0) for d, _ in DOCS], "doc_id long, age_days double"
    )
    gone = spark.createDataFrame([(2,)], "doc_id long")
    kw = {"tokenizer": ws_tokens}
    return {
        "search": lambda: Q.search(index, spark, queries),
        "msm_search": lambda: Q.msm_search(index, spark, queries),
        "synonym_search": lambda: Q.synonym_search(
            index, spark, queries, {"spark": ["stream"]}
        ),
        "decay_search": lambda: Q.decay_search(index, spark, queries, ages),
        "rescore_topk": lambda: Q.rescore_topk(index, spark, queries, k=2, window=3),
        "champion_search": lambda: Q.champion_search(index, spark, queries, m=2),
        "tiered_search": lambda: Q.tiered_search(index, spark, queries, m=2),
        "tombstone_search": lambda: Q.tombstone_search(index, gone, terms),
        "sharded_search": lambda: Q.sharded_search(index, terms, n_shards=2),
        "search_after": lambda: Q.search_after(index, terms, after=(9.0, 0)),
        "corrected_search": lambda: Q.corrected_search(index, terms),
        "rm3_search": lambda: Q.rm3_search(index, docs, terms, fb_docs=2, **kw),
    }


def test_bm25_wrappers_return_query_doc_score(spark, index, docs):
    calls = _wrappers(spark, index, docs, ["spark", "merge"], {0: "spark merge"})
    calls["score_bm25_and"] = lambda: Q.score_bm25(
        index, Q.queries_to_terms(spark, ["spark merge"]), mode="and"
    )
    calls["fuzzy_search"] = lambda: Q.fuzzy_search(index, ["sparc"])
    calls["wildcard_search"] = lambda: Q.wildcard_search(index, spark, "s*")
    for name, call in calls.items():
        df = call()
        assert df.columns == ["query_id", "doc_id", "score"], name
        assert df.count() > 0, name


class _Untouched:
    """Stands in for an index relation: reading anything but its
    session fails the test."""

    def __init__(self, spark):
        self.sparkSession = spark

    def __getattr__(self, name):
        raise AssertionError(f"empty query planned against the index (.{name})")


@pytest.mark.parametrize(
    "name",
    [
        "search",
        "msm_search",
        "synonym_search",
        "decay_search",
        "rescore_topk",
        "champion_search",
        "tiered_search",
        "tombstone_search",
        "sharded_search",
        "search_after",
        "corrected_search",
        "rm3_search",
        "rm3_expand",
        "explain_score",
        "fuzzy_search",
    ],
)
def test_empty_query_returns_empty_without_touching_index(spark, docs, name):
    rel = _Untouched(spark)
    index = InvertedIndex(rel, rel, rel, n_docs=4, avgdl=4.0)
    calls = _wrappers(spark, index, docs, [], {0: "the of", 1: ""})
    calls["rm3_expand"] = lambda: Q.rm3_expand(index, docs, [], tokenizer=ws_tokens)
    calls["explain_score"] = lambda: Q.explain_score(index, [], [1, 2])
    calls["fuzzy_search"] = lambda: Q.fuzzy_search(index, [])
    want = {
        "rm3_expand": "struct<term:string,weight:double>",
        "explain_score": "struct<doc_id:bigint,term:string,tf:bigint,df:bigint,"
        "idf:double,tf_norm:double,contribution:double>",
    }.get(name, RESULT)
    df = calls[name]()
    assert df.schema.simpleString() == want
    assert df.collect() == []
