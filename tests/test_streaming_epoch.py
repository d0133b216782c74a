"""A streaming epoch on the bulk build's producer: the delta rows equal the
token-stream plan's, several epochs compacted at once equal a batch build,
a crashed incremental compaction is rolled back instead of appended twice,
a full compaction is the same whatever ran before it, and one epoch's Spark
job count stays bounded."""

import datetime
import json
import os
import shutil

import pytest
from test_streaming import _mk_turns

import searchengine_spark.indexing.build as bmod
from searchengine_spark.streaming import ingest

TEXTS = [
    "the quick-brown fox jumps over the lazy dog",
    "state-of-the-art e-mail re-index state of the art",
    "--- ... !!! ?? -- ''",  # punctuation-only tokens: the empty term
    "café naïve Ünïcödé 東京 straße ÆON",
    "",  # a turn without tokens
    "running runs runner ran ranking",
]


def _turns(spark, conv_start, n_convs):
    """Transcript frame over TEXTS, with "alpha" hot enough that the route
    plan stripes it across several partitions."""
    from searchengine_spark.data import spark_schema

    rows = []
    for c in range(conv_start, conv_start + n_convs):
        for t, text in enumerate(TEXTS):
            if t != 4:
                text = f"alpha alpha alpha alpha alpha alpha {text} tok{(c + t) % 7}"
            rows.append((f"conv{c:05d}", t, "user", text, "", datetime.datetime(2026, 1, 1)))
    return spark.createDataFrame(rows, schema=spark_schema())


def _reference_delta(spark, df, base, n_partitions):
    """The token-stream plan: tokenize() + the pure-DataFrame postings
    plan, doc stats from two groupBys over the token stream."""
    from pyspark.sql import functions as F

    from searchengine_spark.indexing.logical import postings_all_table
    from searchengine_spark.text.spark_tokenize import tokenize

    assigned = bmod.assign_doc_ids(df, n_partitions=n_partitions)
    docs = assigned.withColumn("doc_id", F.col("doc_id") + F.lit(base)).withColumn(
        "title", F.concat_ws(":", "conv_id", "turn_idx")
    )
    tokens = tokenize(docs, text_col="text", id_col="doc_id")
    raw = spark.createDataFrame(
        postings_all_table(tokens.filter(F.col("term") != "")).rdd, bmod.RAW_POSTINGS_SCHEMA
    )
    stats = (
        tokens.groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("doc_len"),
            F.sqrt(F.sum(F.pow(F.lit(1.0) + F.log("tf"), 2))).alias("l2_weight"),
        )
    )
    meta = ("title", "conv_id", "turn_idx", "role", "tool")
    doc_stats = docs.select("doc_id", *meta).join(stats, "doc_id", "left").fillna({"doc_len": 0})
    return raw, doc_stats


def _postings_rows(df):
    return sorted(
        (r["term"], r["doc_id"], r["tf"], tuple(r["positions"])) for r in df.collect()
    )


def _doc_stats_rows(df):
    cols = ["doc_id", "title", "conv_id", "turn_idx", "role", "tool", "doc_len", "l2_weight"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("over_cutoff", [False, True], ids=["encoded", "grouped"])
def test_epoch_delta_equals_token_stream_plan(tmp_path, spark, monkeypatch, over_cutoff):
    from pyspark.sql import functions as F

    if over_cutoff:
        # every epoch takes the over-cutoff path (build_dist's distributed
        # route plan)
        monkeypatch.setattr(bmod, "VOCAB_ENCODE_MAX", 1)
    out = str(tmp_path / "index")
    indexer = ingest.StreamingIndexer(spark, out, n_partitions=4)
    epochs = [_turns(spark, 0, 8), _turns(spark, 8, 5)]
    for e, df in enumerate(epochs):
        indexer.process_batch(df, epoch_id=e)
    m = indexer._manifest()
    for e, df in enumerate(epochs):
        entry = m["epochs"][str(e)]
        epoch_dir = os.path.join(out, "deltas", f"epoch={e}")
        raw = spark.read.parquet(os.path.join(epoch_dir, "postings_raw"))
        stats = spark.read.parquet(os.path.join(epoch_dir, "doc_stats"))
        ref_raw, ref_stats = _reference_delta(spark, df, entry["base_doc_id"], 4)
        assert raw.schema == ref_raw.schema
        assert _postings_rows(raw) == _postings_rows(ref_raw)
        got, want = _doc_stats_rows(stats), _doc_stats_rows(ref_stats)
        assert [g[:-1] for g in got] == [w[:-1] for w in want]
        for g, w in zip(got, want):
            assert (g[-1] is None) == (w[-1] is None) and (g[-1] is None or abs(g[-1] - w[-1]) < 1e-12)
        assert entry["n_docs"] == len(want)
        assert entry["total_tokens"] == sum(w[-2] for w in want)
        assert {"doc_ids", "vocab_collect", "stats_collect", "postings_raw", "doc_stats"} <= set(
            entry["phase_seconds"]
        )
        # the driver's route plan stripes the hot term over several files
        files = raw.filter(F.col("term") == "alpha").select(F.input_file_name()).distinct().count()
        assert files >= (1 if over_cutoff else 2)


def _dictionary(idx):
    return sorted(tuple(r) for r in idx.term_stats.select("term", "df", "cf").collect())


def _ranked(idx, query):
    from searchengine_spark.querying.ranked import ranked_search

    return [(r["doc_id"], round(r["score"], 9)) for r in ranked_search(idx, query, k=10).collect()]


def test_two_epochs_one_incremental_compaction_equal_a_batch_build(tmp_path, spark, monkeypatch):
    """Epochs 1 and 2 compacted by one incremental compact(): a term's new
    postings sit in several appended files.  Epoch 2's manifest entry is
    stripped of its totals, as recorded before the entries carried them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from searchengine_spark.indexing import SparkIndex, build_index, prepare_transcripts

    out = str(tmp_path / "index")
    indexer = ingest.StreamingIndexer(spark, out, n_partitions=4)
    indexer.process_batch(_mk_turns(spark, 0, 30), epoch_id=0)
    indexer.compact()
    indexer.process_batch(_mk_turns(spark, 30, 8), epoch_id=1)
    indexer.process_batch(_mk_turns(spark, 38, 7), epoch_id=2)
    m = indexer._manifest()
    del m["epochs"]["2"]["total_tokens"]
    indexer._save(m)
    before = str(tmp_path / "before")
    shutil.copytree(out, before)
    manifest = indexer.compact()
    assert manifest["metrics"]["avgdl_weights"] == manifest["metrics"]["avgdl"]
    assert {"weights", "postings_segments", "term_stats", "publish"} <= set(
        manifest["metrics"]["phase_seconds"]
    )

    batch_out = str(tmp_path / "batch")
    batch_m = build_index(spark, prepare_transcripts(_mk_turns(spark, 0, 45)), batch_out)
    streamed, batch = SparkIndex(spark, out), SparkIndex(spark, batch_out)
    assert manifest["metrics"]["n_postings"] == batch_m["metrics"]["n_postings"]
    assert streamed.postings.count() == batch_m["metrics"]["n_postings"]
    assert (streamed.n_docs, streamed.total_tokens) == (batch.n_docs, batch.total_tokens)

    assert _dictionary(streamed) == _dictionary(batch)
    for query in ("tok1 tok5 tok9", "tok20 tok3", "tok7"):
        assert _ranked(streamed, query) == _ranked(batch, query), query
    appended = streamed.postings.filter(F.col("doc_id") >= 90).select(
        "term", F.input_file_name().alias("f")
    )
    assert appended.groupBy("term").agg(F.countDistinct("f").alias("n")).agg(F.max("n")).first()[0] >= 2

    # the same incremental compaction with the delta's doc weights joined
    # onto the rows (a delta beyond the broadcast cutoff: join + range
    # shuffle) and segments cut in a second pass (non-local masters), then a
    # full compaction (always the join) write the same postings as the
    # broadcast arrays and the fused side-write
    cols = ["term", "doc_id", "tf", "wdt_bm25", "wdt_tfidf_norm"]

    def postings(path):
        pdf = spark.read.parquet(os.path.join(path, "postings")).select(cols).toPandas()
        return pdf.sort_values(["term", "doc_id"]).reset_index(drop=True)

    monkeypatch.setattr(bmod, "BROADCAST_WEIGHTS_MAX_DOCS", 0)
    monkeypatch.setattr(bmod, "_side_write_ok", lambda *_a: False)
    joined = ingest.StreamingIndexer(spark, before, n_partitions=4)
    joined_m = joined.compact()
    assert joined_m["metrics"]["n_postings"] == batch_m["metrics"]["n_postings"]
    pd.testing.assert_frame_equal(postings(before), postings(out))
    full_m = joined._compact_full(joined._manifest())
    assert full_m["metrics"]["n_postings"] == batch_m["metrics"]["n_postings"]
    pd.testing.assert_frame_equal(postings(before), postings(out))
    rebuilt = SparkIndex(spark, before)
    assert rebuilt.segments.agg(F.sum("n_postings")).first()[0] == batch_m["metrics"]["n_postings"]
    assert _dictionary(rebuilt) == _dictionary(batch)


@pytest.mark.parametrize("crash_in", ["_merge_term_stats_tables", "_finalize_manifests"])
def test_crashed_incremental_compaction_does_not_append_twice(tmp_path, spark, monkeypatch, crash_in):
    """An incremental compaction that dies after computing (or publishing)
    its appends, before the stream manifest records its epochs, is rolled
    back by the retry: no postings, segment blocks, doc rows or dictionary
    counts of the epoch twice."""
    from pyspark.sql import functions as F

    from searchengine_spark.indexing import SparkIndex, build_index, prepare_transcripts

    out = str(tmp_path / "index")
    indexer = ingest.StreamingIndexer(spark, out, n_partitions=4)
    indexer.process_batch(_mk_turns(spark, 0, 20), epoch_id=0)
    indexer.compact()
    indexer.process_batch(_mk_turns(spark, 20, 6), epoch_id=1)

    def crash(*_a, **_k):
        raise RuntimeError("simulated crash")

    if crash_in == "_merge_term_stats_tables":
        # the driver-side dictionary merge: after the appends are staged,
        # before anything is published
        monkeypatch.setattr(ingest, "_merge_term_stats_tables", crash)
    else:
        monkeypatch.setattr(indexer, "_finalize_manifests", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        indexer.compact()
    monkeypatch.undo()
    manifest = indexer.compact()

    raw = spark.read.parquet(os.path.join(out, "deltas", "*", "postings_raw")).count()
    idx = SparkIndex(spark, out)
    assert idx.postings.count() == raw == manifest["metrics"]["n_postings"]
    assert idx.segments.agg(F.sum("n_postings")).first()[0] == raw
    assert idx.doc_stats.count() == idx.n_docs == 26 * 3
    batch_out = str(tmp_path / "batch")
    build_index(spark, prepare_transcripts(_mk_turns(spark, 0, 26)), batch_out)
    batch = SparkIndex(spark, batch_out)
    assert _dictionary(idx) == _dictionary(batch)
    assert not [f for f in os.listdir(out) if f.startswith(("_compact_", "term_stats_", "corpus_stats_"))]


def test_full_compaction_is_the_same_in_any_session_history(tmp_path, spark):
    """The full compaction's route is planned from the deltas' per-term
    token totals, so compacting the same epochs twice in one session, with
    unrelated jobs in between, writes byte-identical segments.  A range
    partitioner's sample is seeded by the RDD id, which grows with the
    session's history, so its partition cuts, and the blocks cut from them,
    moved between the two compactions."""
    out = str(tmp_path / "index")
    indexer = ingest.StreamingIndexer(spark, out, n_partitions=4)
    for e in range(3):
        indexer.process_batch(_mk_turns(spark, 40 * e, 40), epoch_id=e)
    seg_dir = os.path.join(out, "segments")
    compacted = []
    for _ in range(2):
        indexer._compact_full(indexer._manifest())
        files = sorted(f for f in os.listdir(seg_dir) if f.endswith(".parquet"))
        compacted.append({f: open(os.path.join(seg_dir, f), "rb").read() for f in files})
        for n in (10, 1000):  # unrelated jobs
            spark.range(n).repartition(3).selectExpr("sum(id)").collect()
    assert len(compacted[0]) >= 2
    assert compacted[0] == compacted[1]


# Spark jobs of one small epoch (process_batch + incremental compact()) on
# the test session (local[4], 8 shuffle partitions), as measured: 17 (the
# compaction's dictionary merge runs on the driver and takes none)
EPOCH_JOBS_MAX = 17


def test_epoch_job_count_stays_bounded(tmp_path, spark):
    out = str(tmp_path / "index")
    indexer = ingest.StreamingIndexer(spark, out)
    indexer.process_batch(_mk_turns(spark, 0, 20), epoch_id=0)
    indexer.compact()
    batch = _mk_turns(spark, 20, 10)
    sc = spark.sparkContext
    sc.setJobGroup("one-epoch", "process_batch + incremental compact")
    try:
        indexer.process_batch(batch, epoch_id=1)
        indexer.compact()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("one-epoch")
    with open(os.path.join(out, "stream_manifest.json")) as f:
        assert json.load(f).get("merge_seq", 0) == 0  # no tier merge in the count
    assert 0 < len(jobs) <= EPOCH_JOBS_MAX, len(jobs)


def test_dense_doc_weights_offset_and_range_guard():
    import numpy as np

    dl, l2 = bmod.dense_doc_weights([12, 10], [5, 3], [2.0, float("nan")], 10, 3)
    assert dl.tolist() == [3.0, 0.0, 5.0] and l2.tolist() == [1.0, 1.0, 2.0]
    assert bmod.dense_doc_weights(np.array([9]), [1], [1.0], 10, 3) is None
    assert bmod.dense_doc_weights(np.array([13]), [1], [1.0], 10, 3) is None
