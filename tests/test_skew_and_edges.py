"""Skew handling evidence (north_rule: mega-terms via split posting shards)
+ degenerate-input robustness."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import build_index
from tantivy4java_spark.manifest import read_actions
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher
from tantivy4java_spark.streaming import add_documents


def test_mega_term_splits_across_shards(spark, tmp_path):
    """A term present in >30% of docs (FIXTURES.md skew fixture) must spread
    over doc-range shards: every posting-list groupBy key stays bounded by
    the shard width — no hot reducer."""
    n = 600
    rows = [(i, ("megaterm filler%d " % (i % 37)) * 3) for i in range(n)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "content"])
    cfg = IndexConfig(fields=[FieldConfig("content", "text")],
                      id_cols=["doc_id"], content_col="content",
                      shard_bits=7)  # 128-doc shards
    idx = str(tmp_path / "skew_idx")
    build_index(spark, spark.createDataFrame(pdf), cfg, idx, doc_id_col="doc_id")
    s = IndexSearcher(spark, idx)
    blocks = (s.postings().filter(F.col("term") == "megaterm")
              .groupBy("shard").agg(F.sum("count").alias("c")).collect())
    assert len(blocks) == (n + 127) // 128  # spans every shard
    assert all(r["c"] <= 128 for r in blocks)  # bounded per shard
    # and the skewed term still searches correctly
    assert s.count(Q.Term("content", "megaterm")) == n


def test_empty_and_null_content(spark, tmp_path):
    rows = [(0, "real content here", "en"), (1, "", "en"),
            (2, None, "fr"), (3, "more real text", None)]
    df = spark.createDataFrame(rows, ["doc_id", "content", "lang"])
    cfg = IndexConfig(fields=[FieldConfig("content", "text"),
                              FieldConfig("lang", "string")],
                      id_cols=["doc_id", "lang"], content_col="content")
    idx = str(tmp_path / "edge_idx")
    stats = build_index(spark, df, cfg, idx, doc_id_col="doc_id")
    assert stats.num_docs == 4
    s = IndexSearcher(spark, idx)
    assert s.count(Q.Term("content", "real")) == 2
    assert s.count(Q.Term("lang", "en")) == 2
    # empty/null docs exist in the doc store, never match text terms
    assert s.docs().count() == 4
    assert s.count(Q.MatchAll()) == 4


def test_single_doc_index(spark, tmp_path):
    df = spark.createDataFrame([(0, "only one document")], ["doc_id", "content"])
    cfg = IndexConfig(fields=[FieldConfig("content", "text")],
                      id_cols=["doc_id"], content_col="content")
    idx = str(tmp_path / "one_idx")
    build_index(spark, df, cfg, idx, doc_id_col="doc_id")
    s = IndexSearcher(spark, idx)
    hits = s.search(Q.Term("content", "document"), limit=10).collect()
    assert len(hits) == 1 and hits[0]["doc_id"] == 0


_TEXT_FIELDS = [T.StructField("content", T.StringType()),
                T.StructField("lang", T.StringType())]


def _edge_cfg():
    return IndexConfig(fields=[FieldConfig("content", "text"),
                               FieldConfig("lang", "string")],
                       id_cols=["doc_id", "lang"], content_col="content")


def _assert_tables_are_parquet(idx, segments):
    """Every segment table holds a Parquet file, even with no rows in it."""
    for sid in segments:
        for sub in ("docs", "postings", "termstats", "positions"):
            d = os.path.join(idx, "segments", f"seg={sid:05d}", sub)
            assert any(f.endswith(".parquet") for f in os.listdir(d)), d


@pytest.mark.parametrize("num_segments", [1, 4])
@pytest.mark.parametrize("with_doc_id_col", [True, False],
                         ids=["doc_id_col", "zip_index"])
def test_empty_input_builds_empty_index(spark, tmp_path, num_segments,
                                        with_doc_id_col):
    """A 0-row input gives an empty, searchable index instead of failing
    merge with UNABLE_TO_INFER_SCHEMA on bare segment directories."""
    fields = ([T.StructField("doc_id", T.LongType())] if with_doc_id_col
              else []) + _TEXT_FIELDS
    df = spark.createDataFrame([], T.StructType(fields))
    idx = str(tmp_path / "empty_idx")
    kw = {"doc_id_col": "doc_id"} if with_doc_id_col else {}
    stats = build_index(spark, df, _edge_cfg(), idx,
                        num_segments=num_segments, **kw)
    assert stats.num_docs == 0
    _assert_tables_are_parquet(idx, range(num_segments))
    s = IndexSearcher(spark, idx)
    assert s.num_docs == 0
    assert s.search(Q.Term("content", "real"), limit=10).collect() == []
    assert s.count(Q.MatchAll()) == 0


def test_fewer_docs_than_segments(spark, tmp_path):
    """2 docs over 4 doc-range segments: segments 2 and 3 are empty but
    valid, and the merged index holds exactly the 2 docs."""
    df = spark.createDataFrame([(0, "real content", "en"),
                                (1, "more real text", "fr")],
                               ["doc_id", "content", "lang"])
    idx = str(tmp_path / "two_idx")
    stats = build_index(spark, df, _edge_cfg(), idx, doc_id_col="doc_id",
                        num_segments=4)
    assert stats.num_docs == 2
    adds = [a for a in read_actions(spark, idx) if a["action"] == "add"]
    assert [a["num_docs"] for a in adds] == [1, 1, 0, 0]
    _assert_tables_are_parquet(idx, range(4))
    commit = [a for a in read_actions(spark, idx) if a["action"] == "commit"]
    assert commit[-1]["skipped"] == []
    s = IndexSearcher(spark, idx)
    assert s.count(Q.Term("content", "real")) == 2
    assert s.count(Q.MatchAll()) == 2


def test_add_documents_empty_frame(spark, tmp_path):
    """Appending a 0-row frame adds an empty segment; num_docs is unchanged
    and the index still merges and searches."""
    df = spark.createDataFrame([(0, "real content", "en"),
                                (1, "more real text", "fr")],
                               ["doc_id", "content", "lang"])
    idx = str(tmp_path / "append_empty_idx")
    build_index(spark, df, _edge_cfg(), idx, doc_id_col="doc_id")
    action = add_documents(spark, _edge_cfg(), idx,
                           spark.createDataFrame([], T.StructType(_TEXT_FIELDS)))
    assert action["num_docs"] == 0
    _assert_tables_are_parquet(idx, [action["segment"]])
    s = IndexSearcher(spark, idx)
    assert s.num_docs == 2
    assert s.count(Q.MatchAll()) == 2
    assert s.count(Q.Term("content", "real")) == 2
