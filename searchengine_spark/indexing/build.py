"""Distributed inverted-index build (SURVEY.md §2 B1-B7, §7 Phase 2).

Replaces the reference's SPIMI block/merge machinery
(reference: engine/indexing/spimi.py:56-298) with Spark's shuffle: one
planned route shuffle + sort-within-partitions *is* the blocked sort + k-way
merge, with spill handled by the engine.  The partition plan comes from
exact per-term token totals: each partition holds a contiguous term range
(globally term-sorted output for parquet min/max pruning), and a hot term
bigger than one partition is striped across several by doc_id % k — a
stopword's postings spread instead of hot-spotting one partition (the same
effect as salting).

One postings producer, build_grouped (build_dist module), which the
streaming epoch shares: a fused tokenize kernel emits finished posting rows
with each doc's doc_len and L_d, one collect returns every term's token
total, and one planned route shuffle moves the rows — planned on the driver
below VOCAB_ENCODE_MAX terms, distributively above.  It hands its sorted
rows to ONE sink (_write_postings_segments), which the streaming
compactions share: it cuts postings and segments in one pass and
side-writes per-partition term summaries (the fused sink), or, for Iceberg
sinks and non-local masters, runs two passes over a persisted input.

Artifacts (all parquet, under one index directory):
  postings/      term, doc_id, tf, positions, wdt_bm25, wdt_tfidf_norm
                 — range-partitioned and sorted by (term, doc_id) so term
                 filters prune row groups; scoring weights are precomputed at
                 build time so the query hot path never joins doc_stats
                 (the reference recomputes wdt per posting per query,
                 rankedquery.py:18-25 — its slow path)
  segments/      block-max blocks of the same postings (segments module),
                 cut by the sink from the same sorted partitions
  doc_stats/     doc_id, title, doc_len, l2_weight (+ carried metadata cols)
  term_stats/    term, df, cf, weight maxima and per-term block-max meta
                 (broadcast at query time; plays the SQLite dictionary's
                 role, spimi.py:25-29) — merged on the driver from the
                 fused sink's per-partition block summaries, as the
                 reference records its dictionary in the pass that writes
                 postings.bin (spimi.py:238-266); the two-pass sink and
                 resumed builds aggregate the segments in Spark instead
  corpus_stats/  n_docs, total_tokens, avgdl (1 row)
  manifest.json  per-stage lineage + build metrics (postings/sec, skew ratio)

Resumability: each artifact write is idempotent and the manifest records
completed stages; ``build_index(..., resume=True)`` skips stages whose
artifact + manifest entry already exist.  Postings and segments resume as
one unit: the sink runs again unless both are done.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..worker import engine_kernel
from .logical import BM25_B, BM25_K1, term_stats_table
from .segments import _merge_term_stats_tables

META_COLS = ("conv_id", "turn_idx", "role", "tool")

POSTINGS_SCHEMA = (
    "term string, doc_id long, tf long, positions array<long>, "
    "wdt_bm25 double, wdt_tfidf_norm double"
)

RAW_POSTINGS_SCHEMA = "term string, doc_id long, tf long, positions array<long>"


class PhaseClock:
    """Wall seconds per named build phase (a manifest's ``phase_seconds``):
    ``lap(name)`` records the time since the previous lap, or since the
    clock started at ``t0``."""

    def __init__(self):
        self.t0 = time.time()
        self.phases: dict[str, float] = {}
        self._last = self.t0

    def lap(self, name: str) -> None:
        now = time.time()
        self.phases[name] = round(now - self._last, 3)
        self._last = now


@contextlib.contextmanager
def pinned_conf(spark: SparkSession, settings: dict[str, str]):
    """Set session config ``settings`` for the duration of the block and
    restore the session's previous values after."""
    prev = {}
    for k, v in settings.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def pinned_build_conf(spark: SparkSession):
    """Pin BUILD shuffle config for the duration of a build/compaction
    (pinned_conf).

    The build's shuffles (token-stream aggregations, the route shuffle) are
    CPU-heavy relative to their bytes, so AQE's byte-based partition
    coalescing would squeeze them onto a handful of tasks and serialize the
    build.  Serving wants the opposite (SparkIndex.warm() turns coalescing
    ON so tiny per-query reduce stages do not run at build width), and one
    session may interleave both — streaming ingest plus queries — so each
    phase pins its own sizing instead of fighting over the session default."""
    return pinned_conf(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"})


_DOCID_CACHES: list[DataFrame] = []


def release_docid_caches() -> None:
    """Unpersist every ranged corpus cached by assign_doc_ids — a global
    drain for sessions with one producer at a time.  Builders that received
    a frame carrying its own ``_docid_cache`` handle release just that one
    (release_docid_cache_of), so concurrent builders on one session do not
    evict each other's in-flight caches."""
    while _DOCID_CACHES:
        _DOCID_CACHES.pop().unpersist()


def release_docid_cache_of(df: DataFrame) -> bool:
    """Release only the cache backing this assign_doc_ids output (the
    handle is propagated on the returned DataFrame).  Returns True when a
    handle was found and released."""
    cache = getattr(df, "_docid_cache", None)
    if cache is None:
        return False
    cache.unpersist()
    try:
        _DOCID_CACHES.remove(cache)
    except ValueError:
        pass
    return True


# One doc-side (ranged/docs/terms cache) partition ≈ this many docs.  The
# ranged layout feeds EVERY doc-side pass of the build — tokenize+cache
# write, the zero-shuffle stats kernel, the postings map side — so
# width-sized partitions (8 at widths 1-8) ran those phases in 2 coarse
# waves at width 4 with a straggler tail: measured 2.8-3.0x phase speedups
# 1→4 where the token-balanced 16-partition segments phase hit 3.5x.
# Data-sizing is round 3's reduce-side fix applied to the map side; below
# it the floor is one wave (pass_width), not the session's shuffle width.
DOCS_PER_DOC_PARTITION = 24_000


def pass_width(spark: SparkSession, n_partitions: int, n_docs: int, docs_per_partition: int) -> int:
    """Partitions of one build or epoch pass: one wave over the cluster's
    cores (at most ``n_partitions``), or more once ``n_docs`` fills
    ``docs_per_partition``-sized partitions.  A small corpus gives each
    task little work, while every task still pays its scheduling, its
    Arrow round trip through a Python worker and its own shuffle files, so
    a second wave of tiny tasks only adds latency (on 4 cores a session
    width of 8 ran every doc-side stage of a 2k-turn build as 9 tasks and
    its postings reduce as 10)."""
    one_wave = min(n_partitions, spark.sparkContext.defaultParallelism)
    return max(1, one_wave, -(-int(n_docs) // docs_per_partition))


def _number_partitions(ranged: DataFrame) -> tuple[DataFrame, int]:
    """Number the rows of a persisted frame whose ``_pid`` column is its
    partition index: partition offset (a one-long-per-partition count
    collect) plus the row position within the partition.  Returns the
    numbered frame (``_pid`` replaced by ``doc_id``) and the row total."""
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    row_in_partition = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    partition_offset = F.array(*[F.lit(o).cast("long") for o in offsets])[F.col("_pid")]
    out = ranged.select(
        *[c for c in ranged.columns if c != "_pid"],
        (partition_offset + row_in_partition).alias("doc_id"),
    )
    return out, acc


def assign_doc_ids(
    df: DataFrame,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    n_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based doc_id over ORDER BY order_cols — the reference's
    sequential docID contract (directorycorpus.py:64-79) — without a global
    single-partition window.  Without ``n_partitions`` the ranged layout
    has pass_width partitions: one wave over the cores for a small corpus
    (not the session's shuffle width), data-sized by
    DOCS_PER_DOC_PARTITION beyond that.

    Scale path: range-partition + sort, count rows per partition (tiny
    driver-side collect of one long per partition), then number each
    (already sorted) partition with a JVM projection over the cached
    partitions: doc_id = partition_offset + row index within the partition.
    The row index is the low 33 bits of monotonically_increasing_id(), which
    Spark defines as (partition index << 33) + row position — evaluated
    directly over the ranged cache, whose partition index is ``_pid``.  No
    shuffle and no Python stage (an Arrow enumeration kernel cost a Python
    worker round trip, ~0.6 s of fixed cost per build and per streaming
    batch).  Downstream filters cannot slip under the numbering: Spark does
    not push predicates through a nondeterministic projection.

    The counting pass materializes the ranged cache, so the numbering and
    every downstream consumer read cached partitions; the handle is
    registered for release_docid_caches() (called by build/compact/streaming
    once their outputs are durable).  At 10^12-turn scale the equivalent is
    writing the ranged pass to storage once instead of caching.

    An earlier shape used Window.partitionBy(_pid).orderBy(order_cols) +
    a broadcast offsets join: the window's required HashPartitioning(_pid)
    does not match the range layout, so Spark inserted a SECOND full-corpus
    shuffle plus a sort the data already satisfied — measured ~2x the
    enumeration cost of this narrow pass at every parallelism level, pure
    fixed cost at the bottom of every build/ingest.
    """
    spark = df.sparkSession
    if n_partitions is None:
        # data-sized with one wave (at most the session width) as floor
        # (pass_width, DOCS_PER_DOC_PARTITION).  The count is one cheap
        # metadata-leaning job over the source; its total is reused as the
        # _n_docs hint.
        n_partitions = pass_width(
            spark,
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            df.count(),
            DOCS_PER_DOC_PARTITION,
        )
    ranged = (
        df.repartitionByRange(n_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    _DOCID_CACHES.append(ranged)
    out, n_rows = _number_partitions(ranged)
    out._docid_cache = ranged  # scoped-release handle (release_docid_cache_of)
    out._n_docs = n_rows  # corpus size, already paid for by the counting pass —
    # lets the builder size its shuffles by data before any build action runs
    return out


def term_stats_with_block_meta(segments_df: DataFrame, postings_df: DataFrame | None = None) -> DataFrame:
    """B7 dictionary + per-term block-max tops (top-32 block maxima, min
    block max, block count, per scoring mode).  WAND's metadata theta and
    its prune-or-fall-through decision then come from the dictionary collect
    the ranked path already pays — zero extra jobs (querying/wand.py).

    The whole dictionary — df (Σ block n_postings), cf (Σ block sum_tf),
    per-term weight maxima (max over block maxima) AND the block meta — is
    ONE aggregation over segment block rows: ~n_postings/BLOCK_SIZE + n_terms
    rows instead of the n_postings-row postings table the old formulation
    re-scanned and joined.  Blocks partition a term's postings exactly (a
    term split across range partitions still groups correctly), so the sums
    and maxima are identical by construction; the term_stats gate pins it.

    A build or compaction whose sink ran fused merges the same dictionary
    on the driver from per-partition block summaries instead
    (segments.block_summary, _merge_term_stats_tables) — no job.  This
    aggregation serves every other shape: the two-pass sink (Iceberg,
    non-local masters), resumed builds whose sink did not run,
    dictionaries over VOCAB_ENCODE_MAX, and the streaming tier merge.

    ``postings_df`` is only consulted for LEGACY segment artifacts written
    before the per-block sum_tf column existed (a resumed pre-change build
    whose segments stage completed but term_stats did not)."""
    if "sum_tf" not in segments_df.columns:
        if postings_df is None:
            raise ValueError(
                "legacy segments lack sum_tf; pass postings_df to derive df/cf"
            )
        seg_meta = (
            segments_df.select(
                "term",
                "max_wdt_bm25",
                "max_wdt_tfidf_norm",
                F.octet_length("postings_bin").alias("_blob_bytes"),
            )
            .groupBy("term")
            .agg(
                F.slice(F.sort_array(F.collect_list("max_wdt_bm25"), asc=False), 1, 32).alias(
                    "top_block_max_bm25"
                ),
                F.min("max_wdt_bm25").alias("min_block_max_bm25"),
                F.slice(
                    F.sort_array(F.collect_list("max_wdt_tfidf_norm"), asc=False), 1, 32
                ).alias("top_block_max_tfidf_norm"),
                F.min("max_wdt_tfidf_norm").alias("min_block_max_tfidf_norm"),
                F.count("*").alias("n_blocks"),
                F.sum("_blob_bytes").alias("postings_bytes"),
            )
        )
        return term_stats_table(postings_df).join(seg_meta, "term", "left")
    return segments_df.groupBy("term").agg(
        F.sum("n_postings").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.max("max_wdt_bm25").alias("max_wdt_bm25"),
        F.max("max_wdt_tfidf_norm").alias("max_wdt_tfidf_norm"),
        F.slice(F.sort_array(F.collect_list("max_wdt_bm25"), asc=False), 1, 32).alias(
            "top_block_max_bm25"
        ),
        F.min("max_wdt_bm25").alias("min_block_max_bm25"),
        F.slice(
            F.sort_array(F.collect_list("max_wdt_tfidf_norm"), asc=False), 1, 32
        ).alias("top_block_max_tfidf_norm"),
        F.min("max_wdt_tfidf_norm").alias("min_block_max_tfidf_norm"),
        F.count("*").alias("n_blocks"),
        # per-term compressed postings footprint: lets a query planner cost
        # a term's scan from the dictionary, and lets the build's metrics
        # phase derive segment_bytes_compressed from the (vocab-sized)
        # dictionary instead of re-scanning the segments table
        F.sum(F.octet_length("postings_bin")).alias("postings_bytes"),
    )


# --- the route plan's cutoff -------------------------------------------------
# Every route shuffle (the bulk build, a streaming epoch, the full
# compaction) first collects each term's token total in one limit-guarded
# collect (build_dist._collect_vocab).  Up to VOCAB_ENCODE_MAX distinct
# terms the driver plans the route from it (_route_plan) and the rows join
# the plan as a broadcast (term, base, ksplit) frame; above it the
# vocabulary is neither collected nor broadcast, and the plan is assigned
# distributively (build_dist._assign_plan).  The same bound decides whether
# the fused sink's term summaries are merged on the driver.
VOCAB_ENCODE_MAX = 1_500_000


def _doc_weights(tf, doc_len, l2, avgdl: float):
    """Reference K3/K4 document weights (rankedquery.py:22,24) of postings
    with term frequencies ``tf`` in docs of length ``doc_len`` and L2 norm
    ``l2``: one vectorized formula for every kernel, so postings weights and
    segment block maxima match bit-for-bit whichever path computed them."""
    import numpy as np

    tf_f = np.asarray(tf, dtype=np.float64)
    w_bm = ((BM25_K1 + 1.0) * tf_f) / (
        BM25_K1 * ((1.0 - BM25_B) + BM25_B * (doc_len / avgdl)) + tf_f
    )
    return w_bm, (1.0 + np.log(tf_f)) / l2


POSTINGS_FIELDS = ("term", "doc_id", "tf", "positions", "wdt_bm25", "wdt_tfidf_norm")
# postings rows per yielded Arrow batch (bounded kernel output memory)
_POSTINGS_CHUNK = 1 << 18


def _postings_batches(run_starts, run_terms, doc, tf, flat_pos, w_bm, w_ti):
    """Per-posting arrays -> POSTINGS_SCHEMA Arrow batches: the term column
    is a take() over the run terms, positions a ListArray over offsets into
    the flat array — no per-posting Python objects."""
    import numpy as np
    import pyarrow as pa

    n = len(doc)
    run_of = np.repeat(
        np.arange(len(run_starts), dtype=np.int64), np.diff(np.append(run_starts, n))
    )
    pos_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tf, out=pos_off[1:])
    for c0 in range(0, n, _POSTINGS_CHUNK):
        c1 = min(c0 + _POSTINGS_CHUNK, n)
        p0, p1 = pos_off[c0], pos_off[c1]
        positions = pa.ListArray.from_arrays(
            pa.array((pos_off[c0 : c1 + 1] - p0).astype(np.int32)),
            pa.array(flat_pos[p0:p1]),
        )
        cols = [
            run_terms.take(pa.array(run_of[c0:c1])),
            pa.array(doc[c0:c1]),
            pa.array(tf[c0:c1]),
            positions,
            pa.array(w_bm[c0:c1]),
            pa.array(w_ti[c0:c1]),
        ]
        yield pa.RecordBatch.from_arrays(cols, names=list(POSTINGS_FIELDS))


# side-written segment tmp files start with "." (Spark's file listing skips
# hidden names, so a tmp left by a killed task is never read as data) and
# carry this marker so _finalize_side_segments can sweep them
_SIDE_TMP = ".tmp-"
# the fused kernel's per-partition term summaries sit beside the segment
# parts under this "_" prefix (also skipped by Spark's listing) until
# _finalize_side_segments reads and removes them
_SIDE_SUMMARY = "_summary-"


def _side_write(table, seg_dir: str, name: str) -> None:
    """One side-written file: a hidden tmp name, then an atomic rename, so a
    retried task attempt overwrites its own output."""
    import pyarrow.parquet as pq

    tmp = os.path.join(seg_dir, f".{name}{_SIDE_TMP}{os.getpid()}")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(seg_dir, name))


def _partition_kernel(postings_of, seg_dir: str | None = None):
    """mapInArrow postings kernel over one sorted partition.
    ``postings_of(batches)`` returns the whole partition's weighted postings
    as arrays (run_starts, run_terms, doc, tf, positions_flat, wdt_bm25,
    wdt_tfidf_norm) or None when it is empty; the whole partition is
    buffered so block boundaries are deterministic (reference postings.bin
    layout: engine/indexing/spimi.py:145-187).  The kernel yields the
    postings rows (POSTINGS_SCHEMA).

    With ``seg_dir`` it also side-writes the partition's segment rows there
    as one parquet part file via pyarrow — the fused sink: ONE pass cuts
    BOTH artifacts while the group/weight arrays are still hot, instead of
    from a persisted input in a second job (_segments_partition_kernel).
    Measured alternatives at 900k/width 4: persist + second pass ≈ +13 s;
    persist + two CONCURRENT consumer jobs ≈ +17 s (DRAM contention on
    pinned cores).  Task retries are idempotent: the part file is named by
    partition id and committed with a hidden write-to-tmp + atomic rename;
    the _SUCCESS marker is written only after the whole job returns
    (_finalize_side_segments).

    Beside its part file the fused kernel side-writes the partition's term
    summary (segments.block_summary: the term_stats rows of its term runs,
    reduced from the block rows it just cut), under the same tmp+rename
    scheme and a hidden ``_summary-`` name.  The driver merges the
    summaries into the dictionary, so the build's term_stats and metrics
    phases run no Spark job."""

    @engine_kernel
    def fn(batches):
        postings = postings_of(batches)
        if postings is None:
            return
        if seg_dir is not None:
            import pyarrow as pa
            from pyspark import TaskContext

            from searchengine_spark.indexing.segments import block_batch, block_summary

            run_starts, run_terms, doc, tf, flat_pos, w_bm, w_ti = postings
            seg = block_batch(run_starts, run_terms, doc, tf, w_bm, w_ti, flat_pos)
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            _side_write(pa.Table.from_batches([seg]), seg_dir, f"part-{pid:05d}-fused.parquet")
            _side_write(block_summary(seg), seg_dir, f"{_SIDE_SUMMARY}{pid:05d}.parquet")
            del seg
        yield from _postings_batches(*postings)

    return fn


def _segments_partition_kernel(postings_of):
    """mapInArrow block-max segment kernel (SEGMENT_SCHEMA) over the same
    sorted partitions and ``postings_of`` source as _partition_kernel — the
    second pass of the two-pass sink (Iceberg sinks, non-local masters).
    Block metadata come from segmented reductions and every blob of the
    partition from one codec.encode_blocks pass (segments.block_batch) — no
    per-block Python."""

    @engine_kernel
    def fn(batches):
        from searchengine_spark.indexing.segments import block_batch

        postings = postings_of(batches)
        if postings is not None:
            run_starts, run_terms, doc, tf, flat_pos, w_bm, w_ti = postings
            yield block_batch(run_starts, run_terms, doc, tf, w_bm, w_ti, flat_pos)

    return fn


def _raw_partition(avgdl: float, weights_bc, lo: int):
    """_partition_kernel source over rows (term, doc_id, tf, positions)
    sorted by (term, doc_id) — the build's routed posting rows and a
    compaction's raw deltas: one partition's postings arrays with the
    document weights of ``avgdl``.  The whole partition is read at once, so
    block cuts do not depend on Arrow batch boundaries.  Doc weight inputs
    come from ``doc_len``/``l2_weight`` columns on the rows, or, for an
    incremental compaction, from the dense broadcast ``weights_bc`` =
    (doc_len, l2) arrays indexed by doc_id - lo (dense_doc_weights)."""

    def postings_of(batches):
        import numpy as np
        import pyarrow as pa

        from searchengine_spark.indexing.segments import term_runs

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return None
        t = pa.Table.from_batches(batches).combine_chunks()
        doc = t.column("doc_id").to_numpy()
        tf = t.column("tf").to_numpy()
        if weights_bc is None:
            dl = t.column("doc_len").to_numpy().astype(np.float64)
            l2 = t.column("l2_weight").to_numpy()
        else:
            dl_arr, l2_arr = weights_bc.value
            dl, l2 = dl_arr[doc - lo], l2_arr[doc - lo]
        w_bm, w_ti = _doc_weights(tf, dl, l2, avgdl)
        run_starts, run_terms = term_runs(t.column("term").chunk(0))
        flat_pos = t.column("positions").chunk(0).flatten().to_numpy()
        return run_starts, run_terms, doc, tf, flat_pos, w_bm, w_ti

    return postings_of


def _side_write_ok(spark: SparkSession, path: str) -> bool:
    """The fused side-write has executors write into ``path`` with plain
    file I/O, so it is only correct when every executor shares the driver's
    filesystem: a local master and a scheme-less local path."""
    return spark.sparkContext.master.startswith("local") and "://" not in path and not path.startswith("file:")


def _finalize_side_segments(
    spark: SparkSession, seg_dir: str, n_postings: int, max_terms: int | None = None
):
    """Commit the side-written segments dir after the producing job
    returned — the same completion contract as a Spark sink, so
    _stage_done/resume semantics are unchanged.  Tmp files of failed or
    killed task attempts are swept first.  An empty partition set still
    needs a schema-carrying parquet file (a bare dir fails schema inference
    on read-back), but only when there were no postings: postings rows with
    no visible part files mean the side-write did not land where the driver
    can see it, and committing an empty segments artifact would be a
    silently wrong index.

    Returns the kernels' term summaries as Arrow tables, read with pyarrow
    before their files are removed (no summary file outlives this call, so
    none reaches an artifact) — or None when their footers hold more than
    ``max_terms`` rows (default VOCAB_ENCODE_MAX, the driver dictionary's
    cutoff): the caller then aggregates the dictionary in Spark."""
    import pyarrow.parquet as pq

    from .segments import SEGMENT_SCHEMA

    if max_terms is None:
        max_terms = VOCAB_ENCODE_MAX
    for name in os.listdir(seg_dir):
        if name.startswith(".") and _SIDE_TMP in name:
            os.remove(os.path.join(seg_dir, name))
    paths = sorted(
        os.path.join(seg_dir, f) for f in os.listdir(seg_dir) if f.startswith(_SIDE_SUMMARY)
    )
    summaries = None
    files = [pq.ParquetFile(p) for p in paths]
    try:
        if sum(f.metadata.num_rows for f in files) <= max_terms:
            summaries = [f.read() for f in files]
    finally:
        for f in files:
            f.close()
    for p in paths:
        os.remove(p)
    if not any(f.endswith(".parquet") and not f.startswith((".", "_")) for f in os.listdir(seg_dir)):
        if n_postings:
            raise RuntimeError(
                f"the fused build wrote {n_postings} postings but no segment "
                f"part files are visible in {seg_dir}"
            )
        spark.createDataFrame([], SEGMENT_SCHEMA).write.mode("overwrite").parquet(seg_dir)
        return summaries  # Spark's committer wrote _SUCCESS
    with open(os.path.join(seg_dir, "_SUCCESS"), "w"):
        pass
    return summaries


def _write_postings_segments(
    spark: SparkSession,
    sorted_rows: DataFrame,
    postings_of,
    out_dir: str,
    write=None,
    iceberg: bool = False,
    max_terms: int | None = None,
):
    """The one postings+segments sink — of the bulk build and both
    streaming compactions.  ``sorted_rows`` are partitions sorted by (term,
    doc_id) and ``postings_of`` turns one partition into its weighted
    postings arrays (_raw_partition).  Writes
    ``out_dir/postings`` and ``out_dir/segments`` through ``write(df,
    name)`` (default: a parquet overwrite of ``out_dir/name``).

    Where executors share the driver's filesystem (_side_write_ok) and the
    sink is not Iceberg, one pass cuts both artifacts (_partition_kernel
    with a side-write); otherwise two passes run over the persisted input.
    Either way block cuts follow whole partitions, so the two shapes write
    the same segment rows.  Returns ``(n_postings, summaries)``: the
    postings count from the parquet footers (None for an Iceberg sink) and
    the fused kernels' term summaries — None after two passes, or when
    they hold more than ``max_terms`` rows (_finalize_side_segments)."""
    import shutil

    from .segments import SEGMENT_SCHEMA

    post_dir, seg_dir = os.path.join(out_dir, "postings"), os.path.join(out_dir, "segments")
    if write is None:

        def write(df: DataFrame, name: str) -> None:
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))

    set_desc = spark.sparkContext.setJobDescription
    if not iceberg and _side_write_ok(spark, seg_dir):
        # one sorted stream, touched once, nothing persisted (the measured
        # alternatives are in _partition_kernel's docstring)
        set_desc("phase:postings+segments — one pass, fused sinks")
        shutil.rmtree(seg_dir, ignore_errors=True)
        os.makedirs(seg_dir)
        kernel = _partition_kernel(postings_of, seg_dir)
        write(sorted_rows.mapInArrow(kernel, schema=POSTINGS_SCHEMA), "postings")
        n_postings = sum(p["rows"] for p in _partition_lineage(post_dir))
        return n_postings, _finalize_side_segments(spark, seg_dir, n_postings, max_terms)
    set_desc("phase:postings+segments — two passes over a persisted input")
    cached = sorted_rows.persist()
    try:
        write(cached.mapInArrow(_partition_kernel(postings_of), schema=POSTINGS_SCHEMA), "postings")
        segments = cached.mapInArrow(_segments_partition_kernel(postings_of), schema=SEGMENT_SCHEMA)
        write(segments, "segments")
    finally:
        cached.unpersist()
    if iceberg:
        return None, None
    return sum(p["rows"] for p in _partition_lineage(post_dir)), None


def _write_term_stats(table, path: str) -> None:
    """The dictionary artifact written on the driver: one term-sorted
    parquet file plus _SUCCESS, replacing whatever ``path`` held."""
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), compression="snappy")
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass


def _murmur3_hash_int(value: int, seed: int = 42) -> int:
    """Spark-compatible Murmur3_x86_32.hashInt (the hash behind
    HashPartitioning / F.hash for IntegerType, seed 42) — public MurmurHash3
    algorithm (Austin Appleby, public domain).  Verified against F.hash in
    tests/test_encoded_build.py so a Spark-side change would fail loudly."""
    M = 0xFFFFFFFF
    k1 = (value * 0xCC9E2D51) & M
    k1 = ((k1 << 15) | (k1 >> 17)) & M
    k1 = (k1 * 0x1B873593) & M
    h1 = seed ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & M
    h1 = (h1 * 5 + 0xE6546B64) & M
    h1 ^= 4  # len in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M
    h1 ^= h1 >> 16
    # to signed int32, then Spark's Pmod(hash, P)
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _invert_partition_hash(n_partitions: int):
    """For each target partition p, find an int32 value v with
    pmod(murmur3(v), P) == p.  Routing rows through these representative
    values makes ``repartition(P, "_route")`` an EXACT driver-planned
    partitioner — no range-sampling pass, no hash-collision imbalance."""
    import numpy as np

    vmap = np.full(n_partitions, -1, dtype=np.int32)
    found = 0
    v = 0
    while found < n_partitions:
        p = _murmur3_hash_int(v) % n_partitions
        if vmap[p] < 0:
            vmap[p] = v
            found += 1
        v += 1
    return vmap


def _plan_term_routes(term_tokens, target_tokens: int):
    """Greedy driver-side partition plan over the term dictionary, in sorted
    term_id order (so every partition holds a CONTIGUOUS term range and
    parquet min/max pruning by term survives).  A term bigger than the
    target gets ceil(c/target) dedicated partitions and its postings stripe
    across them by doc_id % k — the explicit skew defusal the range
    partitioner approximated by sampling.  Returns (base_part int32[V],
    ksplit int32[V], n_partitions).

    This replaces repartitionByRange's reservoir-sampling job with exact
    knowledge the vocab collect already paid for: one fewer full pass over
    the token stream per build, and partitions balanced by true token
    counts rather than a sample."""
    import numpy as np

    V = len(term_tokens)
    base = np.zeros(V, dtype=np.int32)
    ksplit = np.ones(V, dtype=np.int32)
    part = 0
    load = 0
    for t in range(V):
        c = int(term_tokens[t])
        if c > target_tokens:
            if load:  # close the partially-filled partition
                part += 1
                load = 0
            k = -(-c // target_tokens)
            base[t] = part
            ksplit[t] = k
            part += k
            continue
        if load + c > target_tokens and load:
            part += 1
            load = 0
        base[t] = part
        load += c
    n_partitions = part + (1 if load else 0)
    return base, ksplit, max(1, n_partitions)


def _route_plan(term_tokens, width_floor: int):
    """_plan_term_routes with a per-partition token target that spreads the
    stream over about ``width_floor`` partitions."""
    total = int(term_tokens.sum())
    return _plan_term_routes(term_tokens, max(1, -(-total // width_floor)))


# An incremental compaction weights its delta's postings from dense
# (doc_len, l2) arrays broadcast to the kernels (dense_doc_weights) when the
# delta holds at most this many docs (~100 MB of arrays); a larger delta
# joins the weights onto its rows and routes them.  Nothing else broadcasts
# doc weights: the build's posting rows carry them.
BROADCAST_WEIGHTS_MAX_DOCS = 4_000_000
# One postings reduce partition ≈ this many docs (~2M token rows, a
# ~100-200 MB sorted working set).  The build and the epoch plan their
# route shuffle for about pass_width(n_partitions, n_docs, this)
# partitions: one wave for a small corpus, ceil(n_docs / this) for a large
# one.
DOCS_PER_POSTINGS_PARTITION = 60_000


def dense_doc_weights(ids, doc_len, l2_weight, lo: int, size: int):
    """Dense (doc_len, l2_weight) float64 arrays over doc ids [lo, lo +
    size), slot ``doc_id - lo`` — the incremental compaction's broadcast
    weight lookup (_raw_partition).  Slots of absent ids hold (0, 1).
    Returns ``None`` when an id falls outside the range: without this guard
    a negative slot would silently index from the array end and produce
    wrong BM25/tf-idf weights, so the compaction joins the weights onto the
    rows instead."""
    import numpy as np

    slots = np.asarray(ids, dtype=np.int64) - lo
    if len(slots) and (slots.min() < 0 or slots.max() >= size):
        return None
    dl = np.zeros(size, dtype=np.float64)
    l2 = np.ones(size, dtype=np.float64)
    dl[slots] = doc_len
    # l2_weight is null for empty docs; they emit no tokens, so the slot is
    # never read — nan_to_num only keeps the array finite for transport
    l2[slots] = np.nan_to_num(np.asarray(l2_weight, dtype=np.float64), nan=1.0)
    return dl, l2


def prepare_transcripts(df: DataFrame) -> DataFrame:
    """Transcript table (input_hint schema) -> docs: one turn = one document;
    title = conv_id:turn_idx (SURVEY.md §1.3)."""
    docs = assign_doc_ids(df)
    out = docs.withColumn("title", F.concat_ws(":", "conv_id", "turn_idx"))
    out._docid_cache = docs._docid_cache
    out._n_docs = docs._n_docs
    return out


def _partition_lineage(path: str) -> list[dict]:
    """Per-partition lineage for a written artifact (north rule): one entry
    per output file with row count and byte size, read from the parquet
    FOOTERS driver-side — no Spark job, no data scan."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        fp = os.path.join(path, name)
        out.append(
            {
                "file": name,
                "rows": pq.ParquetFile(fp).metadata.num_rows,
                "bytes": os.path.getsize(fp),
            }
        )
    return out


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_partitions: int | None = None,
        doc_terms_artifact: bool = False,
        iceberg_prefix: str | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.n_partitions = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.manifest_path = os.path.join(out_dir, "manifest.json")
        self.manifest: dict = {"stages": {}, "metrics": {}}
        # optional Iceberg artifact sink: with a prefix like "lake.db.idx"
        # and the Iceberg runtime on the classpath, each artifact stage
        # commits as an atomic snapshot of table <prefix>_<stage> and the
        # manifest records the committed snapshot id (resume pins it).
        # Capability-gated: without the runtime (this sandbox) the builder
        # falls back to parquet under out_dir and notes the fallback —
        # the manifest itself always lives at out_dir/manifest.json.
        self.iceberg_prefix = iceberg_prefix
        self._stage_sinks = {}
        self._iceberg_ok = False
        if iceberg_prefix:
            from ..sources.iceberg import iceberg_available

            self._iceberg_ok = iceberg_available(spark)
            if not self._iceberg_ok:
                self.manifest["iceberg_fallback"] = (
                    "iceberg_prefix set but runtime/catalog absent; artifacts "
                    "written as parquet under out_dir"
                )
        # opt-in: also write the doc_id -> term-set frame behind matches()
        # (querying/boolean._doc_terms) as an index artifact, so a FRESH
        # serving session answers its first matches() query from a parquet
        # scan instead of paying the full-postings aggregation (round-4
        # verdict, next item #8).  Off by default: it is a second
        # postings-sized artifact only matches()-heavy deployments need.
        self.doc_terms_artifact = doc_terms_artifact

    # -- manifest / resume -------------------------------------------------
    def _load_manifest(self) -> None:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = json.load(f)

    def _save_manifest(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)

    def _stage_target(self, name: str) -> str:
        if self._iceberg_ok:
            return f"iceberg:{self.iceberg_prefix}_{name}"
        return os.path.join(self.out_dir, name)

    def _write_stage(self, df: DataFrame, name: str) -> None:
        """Artifact write through the storage dispatch (parquet dir or
        Iceberg snapshot commit); the descriptor — including the committed
        snapshot id — lands in the manifest at _mark_stage."""
        from ..sources.iceberg import write_artifact

        info = write_artifact(self.spark, df, self._stage_target(name))
        if info.get("format") == "iceberg":
            self._stage_sinks[name] = info

    def _read_stage(self, name: str) -> DataFrame:
        from ..sources.iceberg import read_artifact

        return read_artifact(self.spark, self._stage_target(name))

    _stage_sinks: dict  # name -> iceberg write descriptor (per instance)

    def _stage_done(self, name: str) -> bool:
        info = self.manifest["stages"].get(name)
        if not info:
            return False
        if self._iceberg_ok:
            # an Iceberg stage is done iff its commit was recorded; the
            # committed flag is the durable marker (writeTo() returned, so
            # the snapshot committed atomically or the write failed whole).
            # snapshot_id is a best-effort pin — the .snapshots metadata
            # query can fail AFTER a successful commit, and requiring it
            # would re-run completed stages forever.
            return bool(info.get("committed")) or info.get("snapshot_id") is not None
        path = os.path.join(self.out_dir, name)
        return os.path.exists(os.path.join(path, "_SUCCESS"))

    def _mark_stage(self, name: str, **extra) -> None:
        entry = {"completed_at": time.time(), **extra}
        sink = getattr(self, "_stage_sinks", {}).get(name)
        if sink is not None:
            entry["format"] = "iceberg"
            entry["table"] = sink.get("table")
            entry["committed"] = bool(sink.get("committed"))
            entry["snapshot_id"] = sink.get("snapshot_id")
        path = os.path.join(self.out_dir, name)
        if os.path.isdir(path):
            lineage = _partition_lineage(path)
            entry["n_files"] = len(lineage)
            entry["partitions"] = lineage
        self.manifest["stages"][name] = entry
        self._save_manifest()

    # -- build --------------------------------------------------------------
    def build(self, docs: DataFrame, resume: bool = False) -> dict:
        """docs: (doc_id:long, text:string [, title, conv_id, turn_idx, role,
        tool]).  Returns the manifest dict.  Runs under pinned build shuffle
        config (see pinned_build_conf) so a session that served queries
        (SparkIndex.warm flips AQE coalescing on) still builds at full
        shuffle width.

        EVERY build shuffle — the vocabulary aggregation as much as the
        postings route shuffle — is sized by pass_width: one wave over the
        cores (at most ``n_partitions``) for a small corpus, where a second
        wave of near-empty Python tasks is pure fixed cost, and by DATA
        beyond that: a reduce partition is a sorted/hash-agg working set,
        and core-count-sized partitions grow with the corpus
        until they outrun the memory hierarchy (measured: 1.8M turns at 8
        tasks built in 675 s with the stats shuffle at 8 partitions vs
        280 s with every shuffle at ~31 — the postings shuffle alone being
        data-sized recovered less than half the loss).  The corpus size is
        free at this point: assign_doc_ids attaches its counting-pass total
        as ``_n_docs``; without the hint one narrow count() pays for the
        shuffle sizing.

        Path selection: there is one producer, build_grouped (build_dist
        module): the fused group kernel's posting rows carry doc_len and
        L_d, so no doc weight is broadcast and no doc-id range is assumed.
        Only its route plan depends on the corpus: planned on the driver
        from the one token-total collect up to VOCAB_ENCODE_MAX terms,
        assigned distributively above (build_dist.plan_route)."""
        n_docs_hint = getattr(docs, "_n_docs", None)
        if n_docs_hint is None:
            n_docs_hint = docs.count()
        sp_build = pass_width(
            self.spark, self.n_partitions, n_docs_hint, DOCS_PER_POSTINGS_PARTITION
        )
        prev_sp = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(sp_build))
        self._sp_build = sp_build
        try:
            with pinned_build_conf(self.spark):
                from .build_dist import build_grouped

                return build_grouped(self, docs, int(n_docs_hint), resume=resume)
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    def _sink_done(self, resume: bool) -> bool:
        """Postings and segments resume as one unit: the sink runs again
        unless both stages are done."""
        return resume and self._stage_done("postings") and self._stage_done("segments")

    def _postings_segments(self, sorted_rows: DataFrame, postings_of):
        """Run the shared sink (_write_postings_segments) into this build's
        stage targets and mark both stages.  Returns the fused kernels'
        term summaries, or None (see the sink)."""
        _, summaries = _write_postings_segments(
            self.spark,
            sorted_rows,
            postings_of,
            self.out_dir,
            write=self._write_stage,
            iceberg=self._iceberg_ok,
        )
        self._mark_stage("postings")
        self._mark_stage("segments")
        return summaries

    def _finish(
        self,
        clock: PhaseClock,
        docs,
        n_docs,
        avgdl,
        total_tokens,
        set_desc,
        resume,
        fused_cache=None,
        summaries=None,
    ) -> dict:
        """The build tail, after the sink wrote postings and segments:
        dictionary, metrics, cache release.

        The fused sink hands over its per-partition term summaries
        (``summaries``, None when they exceed VOCAB_ENCODE_MAX rows): the
        dictionary and the metrics' df and block totals then come from one
        driver-side merge (_merge_term_stats_tables) and run no job.  The
        two-pass sink and resumed builds aggregate the segments in Spark
        (term_stats_with_block_meta)."""
        lap = clock.lap
        # read where a shape needs it: opening the artifact infers its
        # schema with a Spark job, which the fused tail does not need
        postings_df = functools.partial(self._read_stage, "postings")

        # B7 + block-max metadata: the broadcastable dictionary.  Per-term
        # block-max tops ride along (top-32 block maxima, min block max,
        # block count, per scoring mode) so WAND derives its theta lower
        # bound and prune-or-fall-through decision from the SAME tiny
        # dictionary collect it already pays — zero extra jobs at query time
        # (wand.py metadata mode).
        term_stats_cache = None
        term_stats = None  # the driver-merged dictionary (Arrow)
        if summaries is not None:
            set_desc("phase:term_stats — driver merge of the fused sink's block summaries")
            term_stats = _merge_term_stats_tables(summaries)
            _write_term_stats(term_stats, os.path.join(self.out_dir, "term_stats"))
            self._mark_stage("term_stats")
            lap("term_stats")
        elif not self._stage_done("term_stats") or not resume:
            set_desc("phase:term_stats — dictionary + block-max meta")
            # persisted: the metrics phase below aggregates the SAME
            # vocab-sized frame (max/avg df, Σ n_blocks, Σ postings_bytes)
            # — one segments scan total instead of the three full-table
            # passes the unfused tail paid (term_stats derive, term_stats
            # read-back for df stats, segments re-scan for byte totals)
            # the aggregation reads the blocks range-partitioned by term, so
            # its output is the term-ranged dictionary without a second
            # exchange
            segments = self._read_stage("segments")
            term_stats_cache = term_stats_with_block_meta(
                segments.repartitionByRange(max(1, self.n_partitions // 4), "term"),
                postings_df() if "sum_tf" not in segments.columns else None,
            ).persist()
            self._write_stage(term_stats_cache, "term_stats")
            self._mark_stage("term_stats")
            lap("term_stats")

        if not self.doc_terms_artifact:
            # A rebuild without the opt-in must not leave a previous build's
            # doc_terms parquet behind: querying._doc_terms trusts any dir
            # with a _SUCCESS marker, and a stale one would silently answer
            # matches() from the OLD corpus while boolean/ranked answer from
            # the new postings.
            stale = os.path.join(self.out_dir, "doc_terms")
            if os.path.isdir(stale):
                import shutil

                shutil.rmtree(stale, ignore_errors=True)
            self.manifest.get("stages", {}).pop("doc_terms", None)
        if self.doc_terms_artifact and (not self._stage_done("doc_terms") or not resume):
            set_desc("phase:doc_terms — matches() doc->term-set artifact (opt-in)")
            doc_terms = (
                self._read_stage("doc_stats")
                .select("doc_id")
                .join(
                    postings_df().groupBy("doc_id").agg(
                        F.collect_set("term").alias("_terms")
                    ),
                    "doc_id",
                    "left",
                )
                .withColumn(
                    "_terms",
                    F.coalesce(F.col("_terms"), F.array().cast("array<string>")),
                )
            )
            self._write_stage(doc_terms, "doc_terms")
            self._mark_stage("doc_terms")
            lap("doc_terms")

        # build metrics (north rule: postings/sec, skew ratio, lineage).
        # n_postings comes from the per-partition lineage (parquet footers)
        # recorded at stage completion — no re-scan of the postings table.
        elapsed = time.time() - clock.t0
        set_desc("phase:metrics — manifest aggregates")
        # pre-lineage manifests (resumed builds recorded before per-partition
        # lineage existed) lack the "partitions" key — fall back to a count
        lineage = self.manifest["stages"]["postings"].get("partitions")
        n_postings = (
            sum(p["rows"] for p in lineage) if lineage else postings_df().count()
        )
        if term_stats is not None:
            df = term_stats.column("df").to_numpy()
            meta_row = {
                "max_df": int(df.max()) if len(df) else None,
                "avg_df": float(df.sum()) / len(df) if len(df) else None,
                "n_blocks": int(term_stats.column("n_blocks").to_numpy().sum()),
                "bytes_compressed": int(term_stats.column("postings_bytes").to_numpy().sum()),
            }
        else:
            stats_src = (
                term_stats_cache
                if term_stats_cache is not None
                else self._read_stage("term_stats")
            )
            if "postings_bytes" in stats_src.columns:
                meta_row = stats_src.agg(
                    F.max("df").alias("max_df"),
                    F.avg("df").alias("avg_df"),
                    F.sum("n_blocks").alias("n_blocks"),
                    F.sum("postings_bytes").alias("bytes_compressed"),
                ).collect()[0]
            else:
                # legacy dictionary artifact (resumed build predating the
                # postings_bytes column): fall back to the segments scan
                df_row = stats_src.agg(
                    F.max("df").alias("max_df"), F.avg("df").alias("avg_df")
                ).collect()[0]
                seg_row = (
                    self._read_stage("segments")
                    .agg(
                        F.count("*").alias("n_blocks"),
                        F.sum(F.octet_length("postings_bin")).alias("bytes_compressed"),
                    )
                    .collect()[0]
                )
                meta_row = {**df_row.asDict(), **seg_row.asDict()}
        df_stats = meta_row
        seg_stats = meta_row
        if term_stats_cache is not None:
            term_stats_cache.unpersist()
        lap("metrics")
        self.manifest["metrics"] = {
            "phase_seconds": clock.phases,
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "n_postings": n_postings,
            "build_seconds": elapsed,
            "docs_per_sec": n_docs / elapsed if elapsed else None,
            "postings_per_sec": n_postings / elapsed if elapsed else None,
            "skew_ratio_max_df_over_avg_df": (df_stats["max_df"] / df_stats["avg_df"]) if df_stats["avg_df"] else None,
            "n_segment_blocks": int(seg_stats["n_blocks"] or 0),
            "segment_bytes_compressed": int(seg_stats["bytes_compressed"] or 0),
            "n_partitions": self.n_partitions,
            "avgdl": avgdl,
        }
        self._save_manifest()
        if fused_cache is not None:
            fused_cache.unpersist()
        docs.unpersist()
        # release the docID cache behind OUR input frame.  The scoped handle
        # is a plain attribute that intermediate transformations drop; when
        # it is missing, drain the registry only if it holds exactly ONE
        # cache (the unambiguous single-producer case) — draining all of
        # them would evict other in-flight builders' caches and force
        # recomputes.  Multi-builder sessions that transform the frame
        # between assign_doc_ids and build() own the release via
        # release_docid_caches() / release_docid_cache_of().
        if not release_docid_cache_of(docs) and len(_DOCID_CACHES) == 1:
            release_docid_caches()
        set_desc(None)
        return self.manifest


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_partitions: int | None = None,
    resume: bool = False,
    doc_terms_artifact: bool = False,
) -> dict:
    return IndexBuilder(
        spark, out_dir, n_partitions, doc_terms_artifact=doc_terms_artifact
    ).build(docs, resume=resume)


def bm25_wqt(n_docs: int, df: int) -> float:
    """K2 (rankedquery.py:12-13)."""
    return max(0.1, math.log((n_docs - df + 0.5) / (df + 0.5)))


def tfidf_wqt(n_docs: int, df: int) -> float:
    """K1 (rankedquery.py:14-16)."""
    return math.log(1 + n_docs / df)
