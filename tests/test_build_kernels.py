"""Arrow build kernels: the fused side-write under task failure, the
two-pass/fused segment parity, kernel warnings, and the WAND and tier-merge
gates that read the dictionary's postings_bytes."""

import os
import warnings
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from test_encoded_build import tricky_docs  # noqa: F401  (fixture)

import searchengine_spark.indexing.build as bmod
from searchengine_spark.indexing.segments import TERM_STATS_FIELDS, TOP_BLOCK_MAX

def _raw_batches(rng, n_terms=40, n_docs=300):
    """Posting rows sorted by (term, doc_id), as the route shuffle leaves
    them: raw postings with their docs' doc_len and L_d, in 5 batches."""
    doc_len, l2 = rng.integers(1, 50, n_docs), rng.uniform(0.5, 3, n_docs)
    rows = [
        (f"t{t:03d}", int(d), np.sort(rng.choice(200, rng.integers(1, 4), replace=False)))
        for t in range(n_terms)
        for d in np.sort(rng.choice(n_docs, rng.integers(1, 200), replace=False))
    ]
    table = pa.table(
        {
            "term": [r[0] for r in rows],
            "doc_id": pa.array([r[1] for r in rows], pa.int64()),
            "tf": pa.array([len(r[2]) for r in rows], pa.int64()),
            "positions": pa.array([r[2].tolist() for r in rows], pa.list_(pa.int64())),
            "doc_len": pa.array([int(doc_len[r[1]]) for r in rows], pa.int32()),
            "l2_weight": [float(l2[r[1]]) for r in rows],
        }
    )
    return table.to_batches(max_chunksize=-(-table.num_rows // 5))


def test_fused_side_write_survives_a_failed_attempt(spark, tmp_path, monkeypatch):
    """A task attempt that dies between writing its tmp file and the rename
    (here: os.replace raising in another worker process) must leave nothing
    Spark reads as data, so the retried attempt's part file is the only copy
    of the partition's blocks."""
    batches = _raw_batches(np.random.default_rng(3))
    seg_dir = tmp_path / "segments"
    seg_dir.mkdir()
    kernel = bmod._partition_kernel(bmod._raw_partition(7.0, None, 0), seg_dir=str(seg_dir))
    real_replace, real_getpid = os.replace, os.getpid

    def dying_replace(src, dst):
        raise OSError("worker killed before the rename")

    monkeypatch.setattr(os, "replace", dying_replace)
    monkeypatch.setattr(os, "getpid", lambda: real_getpid() + 100_000)
    with pytest.raises(OSError):
        list(kernel(iter(batches)))
    assert os.listdir(seg_dir), "the failed attempt left its tmp file"
    monkeypatch.setattr(os, "replace", real_replace)
    monkeypatch.setattr(os, "getpid", real_getpid)

    postings = pa.Table.from_batches(list(kernel(iter(batches))))
    bmod._finalize_side_segments(spark, str(seg_dir), postings.num_rows)
    assert sorted(os.listdir(seg_dir)) == ["_SUCCESS", "part-00000-fused.parquet"]
    seg = spark.read.parquet(str(seg_dir))
    row = seg.selectExpr("count(*) AS blocks", "sum(n_postings) AS n").collect()[0]
    assert row["n"] == postings.num_rows
    expect = pa.Table.from_batches(
        list(
            bmod._segments_partition_kernel(bmod._raw_partition(7.0, None, 0))(iter(batches))
        )
    )
    assert row["blocks"] == expect.num_rows


def test_finalize_fails_loudly_without_visible_parts(spark, tmp_path):
    seg_dir = tmp_path / "segments"
    seg_dir.mkdir()
    with pytest.raises(RuntimeError, match="no segment part files"):
        bmod._finalize_side_segments(spark, str(seg_dir), 12)
    # no postings at all: an empty, schema-carrying artifact is correct
    bmod._finalize_side_segments(spark, str(seg_dir), 0)
    assert spark.read.parquet(str(seg_dir)).count() == 0


def test_side_write_only_on_local_master_and_path(spark):
    assert spark.sparkContext.master.startswith("local")
    assert bmod._side_write_ok(spark, "/data/idx/segments")
    assert not bmod._side_write_ok(spark, "hdfs://nn/idx/segments")
    assert not bmod._side_write_ok(spark, "s3a://bucket/idx/segments")
    assert not bmod._side_write_ok(spark, "file:/data/idx/segments")
    remote = SimpleNamespace(sparkContext=SimpleNamespace(master="spark://host:7077"))
    assert not bmod._side_write_ok(remote, "/data/idx/segments")


def _segment_rows(spark, path):
    df = spark.read.parquet(os.path.join(path, "segments"))
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in df.select(*sorted(df.columns)).collect()
    )


# the route planned on the driver ("encoded") and the distributed plan
# ("dist"), forced the way test_dist_build does: a vocabulary over the cutoff
PRODUCERS = {"encoded": (), "dist": (("VOCAB_ENCODE_MAX", 3),)}


@pytest.mark.parametrize("producer", sorted(PRODUCERS))
def test_fused_segments_byte_identical_to_two_pass(spark, tricky_docs, tmp_path, monkeypatch, producer):  # noqa: F811
    for name, value in PRODUCERS[producer]:
        monkeypatch.setattr(bmod, name, value)
    fused = str(tmp_path / "fused")
    m = bmod.IndexBuilder(spark, fused).build(tricky_docs)
    assert "postings_segments" in m["metrics"]["phase_seconds"]
    assert ("dict_assign" in m["metrics"]["phase_seconds"]) == (producer == "dist")
    # the fused sink's summaries: the driver wrote the dictionary, unless
    # they hold more rows than the (forced) cutoff
    driver_merged = [p["file"] for p in m["stages"]["term_stats"]["partitions"]] == ["part-00000.parquet"]
    assert driver_merged == (producer == "encoded")
    monkeypatch.setattr(bmod, "_side_write_ok", lambda *_a: False)
    two_pass = str(tmp_path / "two_pass")
    m = bmod.IndexBuilder(spark, two_pass).build(tricky_docs)
    assert "postings_segments" in m["metrics"]["phase_seconds"]
    # two passes, no summaries: Spark aggregated the dictionary
    assert [p["file"] for p in m["stages"]["term_stats"]["partitions"]] != ["part-00000.parquet"]
    assert _segment_rows(spark, fused) == _segment_rows(spark, two_pass)


def test_build_releases_every_broadcast(spark, tmp_path, monkeypatch):
    """A bulk build makes no SparkContext.broadcast (its posting rows carry
    the doc weight inputs), and every broadcast a streaming epoch's
    incremental compaction makes (the delta's dense doc weight arrays) is
    unpersisted before it returns, so nothing stays pinned on the workers
    for the rest of the session."""
    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast
    from test_streaming import _mk_turns

    from searchengine_spark.streaming.ingest import StreamingIndexer

    made, released = [], set()
    real_broadcast, real_unpersist = SparkContext.broadcast, Broadcast.unpersist

    def broadcast(self, value):
        made.append(real_broadcast(self, value))
        return made[-1]

    def unpersist(self, blocking=False):
        released.add(id(self))
        return real_unpersist(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    rows = [(i, f"alpha beta{i % 9} gamma") for i in range(200)]
    m = bmod.build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"), str(tmp_path / "index"))
    assert "vocab_collect" in m["metrics"]["phase_seconds"], "encoded path not taken"
    assert made == []

    indexer = StreamingIndexer(spark, str(tmp_path / "stream"), n_partitions=4)
    indexer.process_batch(_mk_turns(spark, 0, 10), epoch_id=0)
    indexer.compact()
    indexer.process_batch(_mk_turns(spark, 10, 5), epoch_id=1)
    m = indexer.compact()
    assert "weights" in m["metrics"]["phase_seconds"], "incremental compaction not taken"
    assert len(made) >= 1
    assert [id(b) in released for b in made] == [True] * len(made)


# Spark jobs of one build_index over a small corpus on the test session
# (local[4], 8 shuffle partitions), as measured: 16 (the term_stats and
# metrics phases of the fused sink run none, and its tail does not open
# the postings artifact)
BUILD_JOBS_MAX = 16
# ... and their tasks: every pass one wave wide (build.pass_width, 4
# partitions on local[4]), as measured: 66.  Sized by the session's 8
# shuffle partitions instead, the same build ran 105 tasks in two waves.
BUILD_TASKS_MAX = 66
# ... and the same build forced onto the dist producer (distributed
# dictionary and partition plan, then the same sink), as measured: 29 jobs
# and 114 tasks
DIST_BUILD_JOBS_MAX = 29
DIST_BUILD_TASKS_MAX = 114


def test_build_job_count_stays_bounded(spark, tmp_path, monkeypatch):
    from test_streaming import _mk_turns

    from searchengine_spark.indexing import prepare_transcripts

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_and_tasks(group):
        sc.setJobGroup(group, "build_index")
        try:
            m = bmod.build_index(spark, prepare_transcripts(_mk_turns(spark, 0, 30)), str(tmp_path / group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = tracker.getJobIdsForGroup(group)
        stages = {sid for jid in jobs for sid in tracker.getJobInfo(jid).stageIds}
        return m, len(jobs), sum(tracker.getStageInfo(sid).numCompletedTasks for sid in stages)

    _, jobs, tasks = jobs_and_tasks("one-build")
    assert 0 < jobs <= BUILD_JOBS_MAX, jobs
    assert 0 < tasks <= BUILD_TASKS_MAX, tasks

    monkeypatch.setattr(bmod, "VOCAB_ENCODE_MAX", 3)
    m, jobs, tasks = jobs_and_tasks("one-dist-build")
    assert "dict_assign" in m["metrics"]["phase_seconds"], "dist path not taken"
    assert 0 < jobs <= DIST_BUILD_JOBS_MAX, jobs
    assert 0 < tasks <= DIST_BUILD_TASKS_MAX, tasks


def test_tokenize_kernels_emit_no_warnings():
    from searchengine_spark.indexing.build_dist import _fused_tokenize_group_kernel

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(4, dtype=np.int64),
            "text": ["the quick-brown fox", "", "running runs ran", "--- x"],
        }
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        group_rows = pd.concat(_fused_tokenize_group_kernel("text", "doc_id")(iter([pdf])))
    pseudo = group_rows[group_rows["term"].isna()]
    assert pseudo["doc_len"].notna().all() and (pseudo["tf"] == 0).all()
    terms = set(group_rows["term"].dropna())
    # the kernel emits stems, never an empty term
    assert "" not in terms
    assert {"run", "quick"} <= terms
    assert (group_rows["term"].isna() == group_rows["positions"].isna()).all()


def test_doc_l2_does_not_depend_on_the_batch_order():
    """A doc's L_d is a sum over its terms' (1+ln tf)²; the tokenize
    kernel must sum it in an order fixed by the doc alone.  Summed in the
    batch's first-seen stem order, the same docs fed in reverse gave a
    different l2_weight for many of them, so doc_stats and the tf-idf
    weights changed with the partition count."""
    from searchengine_spark.indexing.build_dist import _fused_tokenize_group_kernel

    rng = np.random.default_rng(11)
    words = [f"w{i}x" for i in range(400)]
    zipf = 1.0 / np.arange(1, len(words) + 1)
    texts = [
        " ".join(rng.choice(words, rng.integers(20, 120), p=zipf / zipf.sum()))
        for _ in range(400)
    ]
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    rev = pdf.iloc[::-1].reset_index(drop=True)

    def l2_of(batch):
        out = pd.concat(_fused_tokenize_group_kernel("text", "doc_id")(iter([batch])))
        rows = out[out["term"].isna()]
        return dict(zip(rows["doc_id"].tolist(), rows["l2_weight"].astype(float).tolist()))

    group = l2_of(pdf)
    assert len(group) == len(texts)
    assert group == l2_of(rev)


def test_build_is_the_same_at_any_width(spark, tmp_path):
    """One corpus numbered and built at 2 and at 4 partitions gives the
    same doc_stats and postings rows, L_d and tf-idf weights included."""
    rng = np.random.default_rng(5)
    words = [f"w{i}x" for i in range(300)]
    zipf = 1.0 / np.arange(1, len(words) + 1)
    rows = [
        (0, i, " ".join(rng.choice(words, rng.integers(10, 80), p=zipf / zipf.sum())))
        for i in range(600)
    ]
    src = spark.createDataFrame(rows, "conv_id int, turn_idx int, text string")
    got = []
    for width in (2, 4):
        out = str(tmp_path / f"w{width}")
        bmod.build_index(spark, bmod.assign_doc_ids(src, n_partitions=width), out, n_partitions=width)
        got.append(
            [
                sorted(tuple(r) for r in spark.read.parquet(os.path.join(out, name)).select(*cols).collect())
                for name, cols in (
                    ("doc_stats", ["doc_id", "doc_len", "l2_weight"]),
                    ("postings", ["term", "doc_id", "tf", "wdt_bm25", "wdt_tfidf_norm"]),
                )
            ]
        )
    assert got[0][0] == got[1][0]
    assert got[0][1] == got[1][1]


def test_pass_width_is_one_wave_then_data_sized(spark):
    cores = spark.sparkContext.defaultParallelism
    for n_partitions in (1, cores, 2 * cores, 64):
        for n_docs in (0, 1, 2_000, bmod.DOCS_PER_POSTINGS_PARTITION):
            got = bmod.pass_width(spark, n_partitions, n_docs, bmod.DOCS_PER_POSTINGS_PARTITION)
            assert got == min(n_partitions, cores), (n_partitions, n_docs)
    per = bmod.DOCS_PER_DOC_PARTITION
    big = 10 * cores * per + 1
    assert bmod.pass_width(spark, 2 * cores, big, per) == 10 * cores + 1
    # a 32-core cluster whose session width is its core count
    many = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=32))
    assert bmod.pass_width(many, 32, 2_000, per) == 32
    assert bmod.pass_width(many, 32, 3_000_000, 60_000) == 50


def test_wand_byte_gate_falls_through_to_selectivity_gate(spark, tmp_path):
    """With per-term byte footprints in the dictionary and enough bytes to
    amortize, the surviving-fraction gate must still run: when most blocks
    reach theta, pruning decodes them anyway and the exhaustive plan is the
    right one."""
    from searchengine_spark.indexing import SparkIndex, build_index
    from searchengine_spark.querying.ranked import ranked_search
    from searchengine_spark.querying.wand import ranked_search_wand

    # "filler" in 512 short docs, then 128 long ones: its postings stay in
    # one partition (the long docs' "zebra" tokens outweigh it), so its
    # blocks are doc ranges and 4 of its 5 blocks reach the top weight
    rows = [
        (i, "filler zebra" if i < 512 else " ".join(["filler"] + ["zebra"] * 40))
        for i in range(640)
    ]
    out = str(tmp_path / "gate_index")
    build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"), out)
    index = SparkIndex(spark, out)
    meta = index.term_stats_for(["filler"])["filler"]
    tops = meta["top_block_max_bm25"]
    assert meta["n_blocks"] == len(tops) == 5
    assert tops.count(tops[0]) == 4 and tops[-1] < tops[0]
    assert meta["postings_bytes"] >= 512

    st: dict = {}
    got = ranked_search_wand(index, "filler", k=1, stats=st, min_blocks_to_prune=1).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ranked_search(index, "filler", k=1).collect()]
    assert st["pruned"] is False


def test_tier_merge_keeps_unknown_postings_bytes_null(spark):
    from searchengine_spark.indexing.segments import _merge_term_stats_tables
    from searchengine_spark.streaming.ingest import _merge_term_stats

    cols = (
        "term string, df long, cf long, max_wdt_bm25 double, max_wdt_tfidf_norm double, "
        "top_block_max_bm25 array<double>, min_block_max_bm25 double, "
        "top_block_max_tfidf_norm array<double>, min_block_max_tfidf_norm double, n_blocks long"
    )
    old = spark.createDataFrame(
        [("apple", 2, 3, 1.0, 1.0, [1.0], 1.0, [1.0], 1.0, 1),
         ("pear", 1, 1, 0.5, 0.5, [0.5], 0.5, [0.5], 0.5, 1)],
        cols,
    )  # a tier written before the postings_bytes column existed
    delta = spark.createDataFrame(
        [("apple", 1, 1, 0.7, 0.7, [0.7], 0.7, [0.7], 0.7, 1, 40),
         ("kiwi", 1, 2, 0.9, 0.9, [0.9], 0.9, [0.9], 0.9, 1, 25)],
        cols + ", postings_bytes long",
    )
    merged = {r["term"]: r for r in _merge_term_stats(old, delta).collect()}
    assert merged["apple"]["df"] == 3
    assert merged["apple"]["postings_bytes"] is None  # old tier's bytes unknown
    assert merged["pear"]["postings_bytes"] is None
    assert merged["kiwi"]["postings_bytes"] == 25  # only in the new tier
    both = _merge_term_stats(delta, delta)
    assert {r["term"]: r["postings_bytes"] for r in both.collect()} == {"apple": 80, "kiwi": 50}

    # the driver merge of the fused sink takes the same inputs and must give
    # the same rows, so the two combiners cannot drift apart
    for a, b in ((old, delta), (delta, delta), (delta, old)):
        driver = _merge_term_stats_tables([a.toArrow(), b.toArrow()])
        assert driver.column_names == _merge_term_stats(a, b).columns
        assert [tuple(r.values()) for r in driver.to_pylist()] == sorted(
            tuple(r) for r in _merge_term_stats(a, b).collect()
        )


def test_driver_dictionary_equals_spark_aggregation(spark, tmp_path, monkeypatch):
    """The fused sink's dictionary (per-partition block summaries merged on
    the driver) equals the Spark aggregation over the same segments in all
    eleven columns.  "alpha" has more than TOP_BLOCK_MAX blocks and the
    route plan stripes it over two partitions, so its top lists come from
    the cross-partition merge.  Summaries holding more rows than
    VOCAB_ENCODE_MAX (a striped term has a row per partition) take the
    Spark aggregation and commit the same dictionary."""
    from pyspark.sql import functions as F

    # "alpha" twice per doc: a third of the tokens, so even a one-wave
    # route plan (4 partitions on the test session) stripes it
    rows = [
        (i, f"alpha alpha beta{i % 50} gamma{i % 7} " + "delta " * (i % 5)) for i in range(5000)
    ]
    out = str(tmp_path / "index")
    m = bmod.build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"), out)
    assert "term_stats" in m["metrics"]["phase_seconds"]
    seg_dir = os.path.join(out, "segments")
    assert not [f for f in os.listdir(seg_dir) if f.startswith(bmod._SIDE_SUMMARY)]
    assert all(p["file"].startswith("part-") for p in m["stages"]["segments"]["partitions"])
    segments = spark.read.parquet(seg_dir)
    alpha = segments.filter(F.col("term") == "alpha")
    assert alpha.count() > TOP_BLOCK_MAX
    assert alpha.select(F.input_file_name()).distinct().count() >= 2

    got = spark.read.parquet(os.path.join(out, "term_stats"))
    want = bmod.term_stats_with_block_meta(segments)
    assert got.columns == want.columns == list(TERM_STATS_FIELDS)
    assert sorted(tuple(r) for r in got.collect()) == sorted(tuple(r) for r in want.collect())
    totals = want.agg(
        F.max("df"), F.avg("df"), F.sum("n_blocks"), F.sum("postings_bytes")
    ).first()
    metrics = m["metrics"]
    assert metrics["skew_ratio_max_df_over_avg_df"] == totals[0] / totals[1]
    assert (metrics["n_segment_blocks"], metrics["segment_bytes_compressed"]) == tuple(totals[2:])

    n_terms = got.count()
    monkeypatch.setattr(bmod, "VOCAB_ENCODE_MAX", n_terms)
    over = str(tmp_path / "over_cutoff")
    m_over = bmod.build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"), over)
    assert not [f for f in os.listdir(os.path.join(over, "segments")) if f.startswith(bmod._SIDE_SUMMARY)]
    fallback = spark.read.parquet(os.path.join(over, "term_stats"))
    # the fused sink ran, and Spark wrote the dictionary (the driver writes
    # one part-00000.parquet)
    assert "postings_segments" in m_over["metrics"]["phase_seconds"]
    assert [p["file"] for p in m_over["stages"]["term_stats"]["partitions"]] != ["part-00000.parquet"]
    assert sorted(tuple(r) for r in fallback.collect()) == sorted(tuple(r) for r in got.collect())
    for key in ("n_segment_blocks", "segment_bytes_compressed", "skew_ratio_max_df_over_avg_df"):
        assert m_over["metrics"][key] == metrics[key], key
