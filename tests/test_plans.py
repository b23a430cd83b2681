"""Plan-shape assertions: the scale properties the engine relies on must
be visible in the physical plan, not assumed."""

from __future__ import annotations

import pytest

from tf_idf_vectorizer_spark.config import EngineConfig
from tf_idf_vectorizer_spark.operators.index_build import build_index
from tf_idf_vectorizer_spark.plans.explain import (
    explain_str,
    has_broadcast_join,
    has_take_ordered,
    partition_filters,
    pushed_filters,
)
from tf_idf_vectorizer_spark.query.exact import ExactSearcher
from tf_idf_vectorizer_spark.query.packed import PackedIndex
from tf_idf_vectorizer_spark.sources import load_documents


@pytest.fixture(scope="module")
def packed(spark, sf_smoke, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans") / "idx")
    docs = load_documents(spark, sf_smoke)
    cfg = EngineConfig(n_salts=4, block_size=64, term_buckets=16)
    build_index(spark, docs, out, config=cfg)
    return PackedIndex(spark, out, cfg)


def test_postings_scan_prunes_partitions_and_pushes_term_filter(packed):
    """Layout v2: files are term_id-sorted inside salt dirs, so pruning
    is parquet row-group stats via PushedFilters on term_id (+ bucket as
    a stats-pruned column)."""
    df = packed.bm25_topk(["spark", "join"], k=10, mode="exact")
    pushed = pushed_filters(df)
    assert any("term_id" in f for f in pushed), f"term_id not pushed: {pushed}"
    assert any("bucket" in f for f in pushed), f"bucket not pushed: {pushed}"


def test_scoring_joins_are_broadcast(packed):
    df = packed.bm25_topk(["spark"], k=10, mode="exact")
    assert has_broadcast_join(df)


def test_topk_is_take_ordered(packed):
    df = packed.bm25_topk(["spark"], k=10, mode="exact")
    assert has_take_ordered(df)


def test_wand_metadata_scan_skips_payload_columns(packed):
    """The prune pass must never read the compressed payloads: the block
    metadata scan's ReadSchema excludes doc_deltas/tfs."""
    qinfo = packed._query_info(["spark", "the"])
    tids = [r["term_id"] for r in qinfo]
    idf_map = {r["term_id"]: float(r["idf"]) for r in qinfo}
    meta = packed._blocks_for(tids).select(
        "term_id", "salt", "block_seq", "n", "min_doc", "max_doc", "max_tf", "min_dl"
    ).withColumn("ub", packed._block_ub(idf_map, 1.2, 0.75))
    plan = explain_str(meta)
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert read_schemas and all(
        "doc_deltas" not in line and "tfs" not in line for line in read_schemas
    ), read_schemas


def test_rescore_doc_ranges_reach_doc_dict_scan(packed):
    """The WAND rescore's merged candidate doc-id ranges must reach the
    doc_dict read — as parquet PushedFilters when doc_dict streams from
    disk, or as an InMemoryTableScan predicate (cache-batch stats
    pruning) when it is cached, and the decoded-postings side must pick
    the same filter up so non-candidate rows die before the join."""
    import pandas as pd

    qinfo = packed._query_info(["spark", "join"])
    tid = qinfo[0]["term_id"]
    kdf = packed._kdf(pd.DataFrame(
        {"term_id": [tid], "salt": [0], "block_seq": [0], "gen": [0],
         "is_target": [True]}
    ))
    df = packed._score_flagged_df(
        kdf, [tid], qinfo, 1.2, 0.75, doc_ranges=[(0, 100), (200, 300)],
    )
    plan = explain_str(df)
    range_lines = [
        ln for ln in plan.splitlines()
        if "doc_id" in ln and ">= 200" in ln and "<= 300" in ln
    ]
    # one filter on the doc_dict branch + the derived one on the
    # decoded-postings branch
    assert len(range_lines) >= 2, plan[:3000]


def test_exact_search_single_shuffle_agg(spark, sf_smoke):
    """BM25 exact plan: partial+final HashAggregate with ONE exchange on
    the doc key (plus the broadcast exchanges, which move no posting
    data)."""
    s = ExactSearcher(spark, load_documents(spark, sf_smoke))
    df = s.similarity("bm25", ["spark", "join"], k=10)
    plan = explain_str(df)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert has_take_ordered(df)


def test_embedding_near_dup_has_no_cartesian(spark, sf_correct):
    """The default near-dup path must be a bucket equi-join, never an
    all-pairs CartesianProduct (the 100 TB scale killer)."""
    from pyspark.sql import functions as F

    from tf_idf_vectorizer_spark.pipeline.dedup import embedding_near_dup

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    out = embedding_near_dup(emb, threshold=0.15)
    plan = explain_str(out)
    assert "CartesianProduct" not in plan, plan
    assert out.count() >= 0  # executes


def test_gate_near_dup_has_no_cartesian(spark, sf_correct):
    import __spark_entry__ as em

    plan = explain_str(em.queries()["embedding_near_dup"](spark, sf_correct))
    assert "CartesianProduct" not in plan, plan
