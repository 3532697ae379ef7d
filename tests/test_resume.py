"""Checkpoint/resume kill-test (north_rule: interrupted build resumes with
zero recomputation of completed partitions; txlog analog
native/src/txlog/actions.rs Add/MergeSkip).
"""

import json
import os

import pytest

from tantivy4java_spark import queries as Q
from tantivy4java_spark.build import IndexBuilder
from tantivy4java_spark.corpus import generate_pandas
from tantivy4java_spark.schema import FieldConfig, IndexConfig
from tantivy4java_spark.searcher import IndexSearcher

N = 160


def _cfg():
    return IndexConfig(
        fields=[FieldConfig("content", "text"), FieldConfig("lang", "string")],
        id_cols=["doc_id", "lang"], content_col="content")


def _manifest(index_dir):
    from tantivy4java_spark import manifest
    return manifest.read_actions(None, index_dir)


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _postings_mtime(idx, seg):
    p = os.path.join(idx, "segments", f"seg={seg:05d}", "postings")
    return os.path.getmtime(p) if os.path.exists(p) else None


def test_kill_and_resume(spark, tmp_path):
    pdf = generate_pandas(0, N, min_tokens=15, max_tokens=50)
    pdf["doc_id"] = range(N)
    df = spark.createDataFrame(pdf)
    idx = str(tmp_path / "resume_idx")

    b = IndexBuilder(spark, _cfg(), idx, num_segments=4)
    cached = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        b.build(df, doc_id_col="doc_id", fail_after_segments=2)
    # the failed build released every cache it made
    assert _persistent_rdds(spark) == cached

    acts = _manifest(idx)
    adds = [a for a in acts if a["action"] == "add"]
    assert len(adds) == 2  # exactly the completed segments committed
    assert not any(a["action"] == "commit" for a in acts)
    seg_mtimes = {a["segment"]: os.path.getmtime(
        os.path.join(idx, "segments", f"seg={a['segment']:05d}", "postings"))
        for a in adds}
    # segments 2 and 3 may be on disk, but without an add they are pending
    uncommitted = {seg: _postings_mtime(idx, seg) for seg in (2, 3)}

    # resume: must NOT recompute segments 0/1 (mtime unchanged), must finish
    b2 = IndexBuilder(spark, _cfg(), idx, num_segments=4)
    stats = b2.build(df, doc_id_col="doc_id")
    assert stats.num_docs == N
    acts = _manifest(idx)
    adds = [a for a in acts if a["action"] == "add"]
    assert sorted(a["segment"] for a in adds) == [0, 1, 2, 3]
    assert any(a["action"] == "commit" for a in acts)
    for seg, mt in seg_mtimes.items():
        now = os.path.getmtime(
            os.path.join(idx, "segments", f"seg={seg:05d}", "postings"))
        assert now == mt, f"segment {seg} was recomputed on resume"
    for seg, mt in uncommitted.items():
        assert _postings_mtime(idx, seg) not in (None, mt), \
            f"pending segment {seg} was not rewritten on resume"
    assert not [n for n in os.listdir(os.path.join(idx, "segments"))
                if n.startswith("_batch_tmp")]

    # the resumed index answers queries identically to a clean build
    idx2 = str(tmp_path / "clean_idx")
    IndexBuilder(spark, _cfg(), idx2, num_segments=4).build(df, doc_id_col="doc_id")
    s1, s2 = IndexSearcher(spark, idx), IndexSearcher(spark, idx2)
    q = Q.Boolean(should=[Q.Term("content", "import"), Q.Term("content", "return")])
    r1 = [(r["doc_id"], round(r["score"], 9)) for r in s1.search(q, 20).collect()]
    r2 = [(r["doc_id"], round(r["score"], 9)) for r in s2.search(q, 20).collect()]
    assert r1 == r2


def test_merge_skips_corrupt_segment(spark, tmp_path):
    """Resilient merge (merge_impl.rs:88-101): a corrupted segment is skipped
    and recorded, the rest of the index still commits."""
    pdf = generate_pandas(0, 80, min_tokens=15, max_tokens=40)
    pdf["doc_id"] = range(80)
    df = spark.createDataFrame(pdf)
    idx = str(tmp_path / "corrupt_idx")
    b = IndexBuilder(spark, _cfg(), idx, num_segments=2)
    with pytest.raises(RuntimeError):
        b.build(df, doc_id_col="doc_id", fail_after_segments=2)
    # corrupt segment 1's postings
    seg1 = os.path.join(idx, "segments", "seg=00001", "postings")
    for f in os.listdir(seg1):
        if f.endswith(".parquet"):
            with open(os.path.join(seg1, f), "wb") as fh:
                fh.write(b"corrupted")
    merge_action = b._merge([0, 1])
    assert merge_action["skipped"] == [1]
    acts = _manifest(idx)
    assert any(a["action"] == "merge_skip" and a["segment"] == 1 for a in acts)
    s = IndexSearcher(spark, idx)
    assert s.num_docs == 40  # segment 0 only


def test_kill_crashes_the_production_writer(spark, tmp_path, monkeypatch):
    """fail_after_segments crashes the same segment writer a plain build
    runs, and streaming appends write through it too: it is the only one."""
    from tantivy4java_spark.streaming import add_documents
    assert not hasattr(IndexBuilder, "_build_segment")
    calls = []
    real = IndexBuilder._build_segments_batched

    def spy(self, with_ids, seg_ids, seg_col):
        calls.append(list(seg_ids))
        return real(self, with_ids, seg_ids, seg_col)

    monkeypatch.setattr(IndexBuilder, "_build_segments_batched", spy)
    pdf = generate_pandas(0, 40, min_tokens=10, max_tokens=30)
    pdf["doc_id"] = range(40)
    df = spark.createDataFrame(pdf)
    plain = str(tmp_path / "plain")
    IndexBuilder(spark, _cfg(), plain, num_segments=4).build(
        df, doc_id_col="doc_id")
    assert calls == [[0, 1, 2, 3]]
    with pytest.raises(RuntimeError, match="injected failure after 1 "):
        IndexBuilder(spark, _cfg(), str(tmp_path / "killed"),
                     num_segments=4).build(df, doc_id_col="doc_id",
                                           fail_after_segments=1)
    assert calls == [[0, 1, 2, 3]] * 2
    extra = generate_pandas(40, 5, min_tokens=10, max_tokens=30)
    add_documents(spark, _cfg(), plain, spark.createDataFrame(extra))
    assert calls[2:] == [[4]]


def test_writer_failure_releases_caches(spark, tmp_path, monkeypatch):
    """A failure inside the segment writer unpersists the input, the id
    frame and both shared caches, leaves no temp dir and no add behind."""
    from tantivy4java_spark import fsio

    def broken_rename(spark_, src, dst):
        raise OSError("rename failed")

    pdf = generate_pandas(0, 40, min_tokens=10, max_tokens=30)
    df = spark.createDataFrame(pdf)  # zipWithIndex path: caches the input
    idx = str(tmp_path / "broken")
    cached = _persistent_rdds(spark)
    monkeypatch.setattr(fsio, "rename", broken_rename)
    with pytest.raises(OSError, match="rename failed"):
        IndexBuilder(spark, _cfg(), idx, num_segments=2).build(df)
    assert _persistent_rdds(spark) == cached
    assert not [n for n in os.listdir(os.path.join(idx, "segments"))
                if n.startswith("_batch_tmp")]
    assert not [a for a in _manifest(idx) if a["action"] == "add"]
