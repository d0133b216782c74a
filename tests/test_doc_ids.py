"""assign_doc_ids numbers rows exactly as a global row_number() would."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from searchengine_spark.indexing.build import (
    _number_partitions,
    assign_doc_ids,
    release_docid_caches,
)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_doc_ids_equal_global_row_number(spark):
    src = spark.createDataFrame(
        [(f"c{c:03d}", t, f"text {c} {t}") for c in range(25) for t in range(7)],
        "conv_id string, turn_idx int, text string",
    ).repartition(3)
    try:
        out = assign_doc_ids(src, n_partitions=64)
        assert out._docid_cache.rdd.getNumPartitions() == 64
        w = Window.orderBy("conv_id", "turn_idx")
        expect = src.withColumn("doc_id", F.row_number().over(w) - 1)
        cols = ["conv_id", "turn_idx", "doc_id"]
        assert _rows(out, cols) == _rows(expect, cols)
        assert out._n_docs == 175
        # the numbering survives downstream filters and projections: Spark
        # must not push the filter under it and renumber the survivors
        kept = out.filter(F.col("turn_idx") % 3 == 1).select("doc_id", "conv_id", "turn_idx")
        kept_expect = expect.filter(F.col("turn_idx") % 3 == 1)
        assert _rows(kept, cols) == _rows(kept_expect, cols)
        only = out.filter(F.col("conv_id") == "c017").select("doc_id")
        assert sorted(r[0] for r in only.collect()) == list(range(17 * 7, 18 * 7))
    finally:
        release_docid_caches()


def test_numbering_skips_empty_partitions(spark):
    # range partitioning of a fully sampled input leaves no partition empty,
    # so hash-partition 4 keys over 16 partitions to get empty ones between
    # full ones
    src = spark.createDataFrame(
        [(k, v) for k in (3, 11, 20, 42) for v in range(9)], "k int, v int"
    )
    ranged = (
        src.repartition(16, "k")
        .sortWithinPartitions("k", "v")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        pids = sorted(r[0] for r in ranged.select("_pid").distinct().collect())
        assert len(pids) == 4 and pids[-1] > 3  # gaps before the last full one
        out, n = _number_partitions(ranged)
        assert n == 36
        w = Window.orderBy("_pid", "k", "v")
        expect = ranged.withColumn("doc_id", F.row_number().over(w) - 1)
        cols = ["k", "v", "doc_id"]
        assert _rows(out, cols) == _rows(expect, cols)
        assert _rows(out.filter(F.col("v") > 6), cols) == _rows(
            expect.filter(F.col("v") > 6), cols
        )
    finally:
        ranged.unpersist()


def test_doc_ids_after_cache_release_still_dense(spark):
    src = spark.createDataFrame(
        [(f"c{c:02d}", t) for c in range(9) for t in range(4)],
        "conv_id string, turn_idx int",
    )
    out = assign_doc_ids(src, n_partitions=5)
    release_docid_caches()
    # recomputed from the source: the numbering rides the range shuffle's
    # partitions, so it is still the dense global order
    ids = sorted((r["conv_id"], r["turn_idx"], r["doc_id"]) for r in out.collect())
    assert [i for *_k, i in ids] == list(range(36))
