"""Incremental maintenance invariant (FIXTURES.md §4): applying a delta
stream then querying == building fresh from the final corpus state."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import load_documents
from tf_idf_vectorizer_spark.streaming import IncrementalIndex, stream_updates

CFG = EngineConfig(n_salts=4, block_size=64, term_buckets=16)

QUERIES = [["spark", "join", "query"], ["the"], ["fresh", "newterm"]]


def _topk(spark, idx_dir, terms, k=15):
    idx = PackedIndex(spark, idx_dir, CFG)
    return [
        (r["doc_id"], r["score"], r["doc_len"])
        for r in idx.bm25_topk(terms, k=k, mode="exact").collect()
    ]


def _assert_same(a, b):
    assert [x[0] for x in a] == [x[0] for x in b], (a[:5], b[:5])
    for x, y in zip(a, b):
        assert math.isclose(x[1], y[1], rel_tol=1e-12, abs_tol=1e-12)
        assert x[2] == y[2]


@pytest.fixture(scope="module")
def base_docs(spark, sf_smoke):
    return load_documents(spark, sf_smoke).select("doc_id", "text").cache()


def test_incremental_equals_fresh(spark, base_docs, tmp_path):
    """adds + overwrite + delete across two batches == fresh build."""
    inc_dir = str(tmp_path / "inc")
    build_index(spark, base_docs, inc_dir, config=CFG)
    inc = IncrementalIndex(spark, inc_dir, CFG)

    # batch 1: add two new docs (one with a brand-new vocab term)
    adds1 = spark.createDataFrame(
        [
            (1000, "fresh newterm spark join alpha"),
            (1001, "the the the query fresh"),
        ],
        "doc_id long, text string",
    )
    inc.apply_batch(adds=adds1)

    # batch 2: overwrite doc 0 and 1000, delete docs 1 and 2
    adds2 = spark.createDataFrame(
        [
            (0, "overwritten text spark"),
            (1000, "fresh rewritten join join"),
        ],
        "doc_id long, text string",
    )
    inc.apply_batch(adds=adds2, delete_ids=[1, 2])

    # the equivalent final corpus, built fresh
    final = (
        base_docs.filter(~F.col("doc_id").isin([0, 1, 2]))
        .unionByName(
            spark.createDataFrame(
                [
                    (1001, "the the the query fresh"),
                    (0, "overwritten text spark"),
                    (1000, "fresh rewritten join join"),
                ],
                "doc_id long, text string",
            )
        )
    )
    fresh_dir = str(tmp_path / "fresh")
    build_index(spark, final, fresh_dir, config=CFG)

    # stats identical
    import json

    m_inc = json.load(open(f"{inc_dir}/meta.json"))
    m_fresh = json.load(open(f"{fresh_dir}/meta.json"))
    assert m_inc["doc_num"] == m_fresh["doc_num"]
    assert m_inc["total_len"] == m_fresh["total_len"]
    assert m_inc["n_terms"] == m_fresh["n_terms"]

    from tf_idf_vectorizer_spark.ioutil import table_path

    ti = {
        r["term"]: (r["df"], r["idf"])
        for r in spark.read.parquet(table_path(inc_dir, m_inc, "term_dict")).collect()
    }
    tf_ = {
        r["term"]: (r["df"], r["idf"])
        for r in spark.read.parquet(table_path(fresh_dir, m_fresh, "term_dict")).collect()
    }
    assert ti == tf_

    for terms in QUERIES:
        _assert_same(
            _topk(spark, inc_dir, terms), _topk(spark, fresh_dir, terms)
        )


def test_compact_preserves_results(spark, base_docs, tmp_path):
    inc_dir = str(tmp_path / "cmp")
    build_index(spark, base_docs, inc_dir, config=CFG)
    inc = IncrementalIndex(spark, inc_dir, CFG)
    inc.apply_batch(
        adds=spark.createDataFrame(
            [(0, "overwritten spark spark"), (2000, "brand new doc join")],
            "doc_id long, text string",
        ),
        delete_ids=[5, 6, 7],
    )
    import json as _json

    from tf_idf_vectorizer_spark.ioutil import table_path

    def _postings_size():
        meta = _json.load(open(f"{inc_dir}/meta.json"))
        return (
            spark.read.parquet(table_path(inc_dir, meta, "postings"))
            .agg(F.sum("n"))
            .first()[0]
        )

    before = _topk(spark, inc_dir, ["spark", "join"])
    size_before = _postings_size()
    inc.compact()
    after = _topk(spark, inc_dir, ["spark", "join"])
    size_after = _postings_size()
    _assert_same(before, after)
    assert size_after < size_before  # stale rows reclaimed


def test_streaming_foreachbatch(spark, base_docs, tmp_path):
    """Structured Streaming surface: file-source delta stream applied via
    foreachBatch == fresh build of the final state."""
    inc_dir = str(tmp_path / "stream_idx")
    build_index(spark, base_docs, inc_dir, config=CFG)

    delta_dir = str(tmp_path / "deltas")
    deltas = [
        (1, "add", 3000, "streaming doc spark query"),
        (2, "delete", 3, None),
        (3, "overwrite", 4, "replaced via stream join"),
    ]
    spark.createDataFrame(
        deltas, "seq long, op string, doc_id long, text string"
    ).write.parquet(delta_dir)

    stream = (
        spark.readStream.schema("seq long, op string, doc_id long, text string")
        .parquet(delta_dir)
    )
    q = stream_updates(
        spark, inc_dir, stream, CFG, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    final = (
        base_docs.filter(~F.col("doc_id").isin([3, 4]))
        .unionByName(
            spark.createDataFrame(
                [
                    (3000, "streaming doc spark query"),
                    (4, "replaced via stream join"),
                ],
                "doc_id long, text string",
            )
        )
    )
    fresh_dir = str(tmp_path / "stream_fresh")
    build_index(spark, final, fresh_dir, config=CFG)
    for terms in QUERIES[:2]:
        _assert_same(_topk(spark, inc_dir, terms), _topk(spark, fresh_dir, terms))


def _tiny_index(spark, path):
    docs = [(i, f"alpha beta w{i % 7} w{i % 3}") for i in range(60)]
    build_index(
        spark, spark.createDataFrame(docs, "doc_id long, text string"),
        path, config=CFG,
    )
    return IncrementalIndex(spark, path, CFG)


def test_batch_and_compact_destroy_their_broadcasts(spark, tmp_path, monkeypatch):
    """Every broadcast handle a mixed apply_batch (DF-correction id sets)
    and a compact (liveness arrays) create is destroyed once the commit
    is done — a long-running ingest process must not accrete them."""
    from pyspark import SparkContext

    inc = _tiny_index(spark, str(tmp_path / "bc"))
    made = []
    orig = SparkContext.broadcast

    def spy(self, value):
        h = orig(self, value)
        made.append(h)
        return h

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    inc.apply_batch(
        adds=spark.createDataFrame(
            [(3, "alpha rewritten"), (500, "gamma new")], "doc_id long, text string"
        ),
        delete_ids=[5, 7],
    )
    n_batch = len(made)
    inc.compact()
    assert n_batch >= 2 and len(made) > n_batch, (n_batch, len(made))
    assert [h._jbroadcast.isValid() for h in made] == [False] * len(made)


def test_apply_batch_refreshes_term_bytes(spark, tmp_path):
    """apply_batch recounts meta['term_bytes'] (the _can_pin_dict gate
    reads it) with n_terms: after a batch adding new terms it equals
    sum(length(term)) of the committed term_dict."""
    d = str(tmp_path / "tb")
    inc = _tiny_index(spark, d)
    before = json.load(open(f"{d}/meta.json"))["term_bytes"]
    meta = inc.apply_batch(
        adds=spark.createDataFrame(
            [(100, "brandnewterm anotherlongnewterm alpha")],
            "doc_id long, text string",
        )
    )
    want = PackedIndex(spark, d, CFG).term_dict.agg(
        F.sum(F.length("term"))
    ).first()[0]
    assert meta["term_bytes"] == want > before
    assert json.load(open(f"{d}/meta.json"))["term_bytes"] == want
