"""Checkpoint/resume equivalence (north rule; SURVEY.md §5 item 5).

A build interrupted after some stages must, on resume, (a) skip completed
stages, (b) rebuild missing ones, and (c) produce an index byte-equivalent
in content to an uninterrupted build."""

import os
import shutil

import pytest


def _collect_index(spark, index_dir):
    from searchengine_spark.indexing import SparkIndex

    idx = SparkIndex(spark, index_dir)
    postings = sorted(
        (r["term"], r["doc_id"], r["tf"], tuple(r["positions"]), round(r["wdt_bm25"], 12))
        for r in idx.postings.collect()
    )
    doc_stats = sorted(
        (r["doc_id"], r["doc_len"], round(r["l2_weight"], 12)) for r in idx.doc_stats.collect()
    )
    return postings, doc_stats, idx.n_docs, idx.total_tokens


@pytest.fixture(scope="module")
def built_dirs(tmp_path_factory, spark, transcripts_df):
    from searchengine_spark.indexing import build_index, prepare_transcripts

    docs = prepare_transcripts(transcripts_df)

    full = str(tmp_path_factory.mktemp("full_build"))
    build_index(spark, docs, full)

    # interrupted build: copy the completed doc_stats/corpus_stats artifacts
    # + manifest, delete the rest — simulates dying mid-postings
    partial = str(tmp_path_factory.mktemp("partial_build"))
    for stage in ("doc_stats", "corpus_stats"):
        shutil.copytree(os.path.join(full, stage), os.path.join(partial, stage))
    import json

    with open(os.path.join(full, "manifest.json")) as f:
        manifest = json.load(f)
    manifest["stages"] = {k: v for k, v in manifest["stages"].items() if k in ("doc_stats", "corpus_stats")}
    manifest["metrics"] = {}
    with open(os.path.join(partial, "manifest.json"), "w") as f:
        json.dump(manifest, f)

    mtime_before = os.path.getmtime(os.path.join(partial, "doc_stats", "_SUCCESS"))
    build_index(spark, docs, partial, resume=True)  # the resume under test
    mtime_after = os.path.getmtime(os.path.join(partial, "doc_stats", "_SUCCESS"))

    return full, partial, mtime_before, mtime_after


def test_resume_skips_completed_stages(spark, built_dirs):
    import json

    full, partial, mtime_before, mtime_after = built_dirs
    assert mtime_before == mtime_after  # completed stage not rewritten

    with open(os.path.join(partial, "manifest.json")) as f:
        manifest = json.load(f)
    assert set(manifest["stages"]) >= {"doc_stats", "corpus_stats", "postings", "segments", "term_stats"}
    assert manifest["metrics"]["n_postings"] > 0


def test_resumed_index_equivalent_to_full(spark, built_dirs):
    full, partial, *_ = built_dirs
    assert _collect_index(spark, partial) == _collect_index(spark, full)


def test_resumed_queries_match(spark, built_dirs):
    """Same doc set with per-doc scores equal to 1e-9: the two builds ran
    under different physical plans, so float accumulation order (and thus
    the last ulp) can differ — rank order of exact ties is still fixed by
    doc_id, but near-ties are compared score-wise, not position-wise."""
    import pytest as _pytest

    from searchengine_spark.indexing import SparkIndex
    from searchengine_spark.querying.ranked import ranked_search

    full, partial, *_ = built_dirs
    a = {r["doc_id"]: r["score"] for r in ranked_search(SparkIndex(spark, full), "quick fox jump", k=1000).collect()}
    b = {r["doc_id"]: r["score"] for r in ranked_search(SparkIndex(spark, partial), "quick fox jump", k=1000).collect()}
    assert set(a) == set(b) and a
    for doc_id, score in a.items():
        assert b[doc_id] == _pytest.approx(score, rel=1e-9)


def test_manifest_records_per_partition_lineage(spark, tmp_path):
    """North rule: per-partition lineage — every written stage records one
    entry per output file with rows + bytes matching the artifact."""
    from searchengine_spark.indexing.build import build_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 7} gamma") for i in range(200)], "doc_id long, text string"
    )
    out = str(tmp_path / "lineage_index")
    manifest = build_index(spark, docs, out)
    postings_stage = manifest["stages"]["postings"]
    assert postings_stage["n_files"] == len(postings_stage["partitions"]) > 0
    total_rows = sum(p["rows"] for p in postings_stage["partitions"])
    assert total_rows == manifest["metrics"]["n_postings"]
    for stage in ("doc_stats", "corpus_stats", "segments", "term_stats"):
        parts = manifest["stages"][stage]["partitions"]
        assert parts and all(p["bytes"] > 0 for p in parts)


def test_resume_reproduces_segments_byte_for_byte(spark, tmp_path):
    """A build that lost its segments artifact resumes by running the
    postings+segments sink again, and the segment rows are byte-identical
    to the uninterrupted build's.  Small Arrow batches make a per-batch
    block cut show: an encoder that restarted blocks at every batch of a
    postings read-back would cut "alpha" (2,000 postings) into blocks of at
    most 100 instead of 128."""
    import json

    from test_build_kernels import _segment_rows

    from searchengine_spark.indexing.build import build_index

    rows = [(i, f"alpha alpha beta{i % 50} gamma{i % 7} " + "delta " * (i % 5)) for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full, resumed = str(tmp_path / "full"), str(tmp_path / "resumed")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        build_index(spark, docs, full)
        shutil.copytree(full, resumed)
        shutil.rmtree(os.path.join(resumed, "segments"))
        with open(os.path.join(resumed, "manifest.json")) as f:
            manifest = json.load(f)
        del manifest["stages"]["segments"]
        with open(os.path.join(resumed, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        m = build_index(spark, docs, resumed, resume=True)
    finally:
        spark.conf.set(key, prev)
    assert "segments" in m["stages"]
    assert _segment_rows(spark, resumed) == _segment_rows(spark, full)
