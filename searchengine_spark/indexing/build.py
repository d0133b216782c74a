"""Distributed inverted-index build (SURVEY.md §2 B1-B7, §7 Phase 2).

Replaces the reference's SPIMI block/merge machinery
(reference: engine/indexing/spimi.py:56-298) with Spark's shuffle: the
repartition-by-range + sort-within-partitions *is* the blocked sort + k-way
merge, with spill handled by the engine.  Hot-term skew is defused by range
partitioning on the composite key (term, doc_id) — a stopword's postings
spread across many partitions instead of hot-spotting one (the same effect as
salting, chosen because it additionally yields globally term-sorted output
for parquet min/max pruning).

Artifacts (all parquet, under one index directory):
  postings/      term, doc_id, tf, positions, wdt_bm25, wdt_tfidf_norm
                 — range-partitioned and sorted by (term, doc_id) so term
                 filters prune row groups; scoring weights are precomputed at
                 build time so the query hot path never joins doc_stats
                 (the reference recomputes wdt per posting per query,
                 rankedquery.py:18-25 — its slow path)
  doc_stats/     doc_id, title, doc_len, l2_weight (+ carried metadata cols)
  term_stats/    term, df, cf, max_wdt_bm25 (broadcast at query time; plays
                 the SQLite dictionary's role, spimi.py:25-29)
  corpus_stats/  n_docs, total_tokens, avgdl (1 row)
  manifest.json  per-stage lineage + build metrics (postings/sec, skew ratio)

Resumability: each artifact write is idempotent and the manifest records
completed stages; ``build_index(..., resume=True)`` skips stages whose
artifact + manifest entry already exist.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import time
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..text.spark_tokenize import tokenize
from ..worker import engine_kernel
from .logical import (
    BM25_B,
    BM25_K1,
    corpus_stats_table,
    doc_stats_table,
    term_stats_table,
)

META_COLS = ("conv_id", "turn_idx", "role", "tool")

POSTINGS_SCHEMA = (
    "term string, doc_id long, tf long, positions array<long>, "
    "wdt_bm25 double, wdt_tfidf_norm double"
)

RAW_POSTINGS_SCHEMA = "term string, doc_id long, tf long, positions array<long>"


def _postings_kernel(avgdl: float | None, weights_bc=None, id2term_bc=None):
    """Vectorized grouping kernel: input partitions sorted by
    (term, doc_id, position); output one row per (term, doc_id) with tf,
    the position list, and the precomputed K3/K4 document weights
    (rankedquery.py:22,24 — wdt_bm25 with k1=1.2, b=0.75 so 2.2 = k1+1 and
    0.25 = 1-b).  All numpy.

    ``id2term_bc``: optional ``sc.broadcast`` of a numpy object array mapping
    dense term_ids to term strings (dictionary-encoded build path).  When
    set, the input carries ``term_id:int32`` instead of ``term:string`` —
    the range shuffle + external sort then move fixed 8-byte int slots
    instead of variable-length strings (and the group-boundary comparison
    below is a vectorized int compare instead of per-element PyUnicode
    richcompare).  term_ids are assigned in sorted-term order, so sorting
    by term_id IS sorting by term and every downstream layout property
    (parquet min/max pruning, segment block order) is preserved.

    ``weights_bc``: optional ``sc.broadcast`` of dense ``(doc_len, l2)``
    float64 arrays indexed by doc_id (doc_ids are dense by construction).
    When set, the kernel looks doc weights up locally instead of reading
    ``doc_len``/``l2_weight`` columns off its input rows — which means the
    range shuffle feeding this kernel carries 16 fewer bytes per token
    occurrence.  That matters because the shuffle+sort is the build's
    dominant data movement AND is memory-bandwidth-bound at high
    parallelism (tools/host_capacity_probe.py --bw: this host streams at
    ~0.43 scaling efficiency 8->32 vs 0.68-0.71 for compute), so shuffled
    bytes convert directly into scaling headroom.  Only offered below
    BROADCAST_WEIGHTS_MAX_DOCS; beyond that the per-row carry (pre-join)
    is the correct plan and ``weights_bc`` stays None.

    ``avgdl=None`` yields the RAW form (term, doc_id, tf, positions) with
    no weight columns and no doc_len/l2 inputs — the streaming delta shape,
    where weights are deferred to compaction because avgdl drifts.

    Memory: Arrow batches are processed as they STREAM — each batch emits
    every complete (term, doc_id) group and carries only the trailing
    incomplete group into the next batch, so peak per-partition memory is
    O(batch + largest single group), not O(partition) (a whole-partition
    concat would OOM on large or skewed partitions at 10^12-posting
    scale)."""

    key_col = "term" if id2term_bc is None else "term_id"

    def process(pdf):
        import numpy as np
        import pandas as pd

        if id2term_bc is None:
            term = pdf["term"].to_numpy()
        else:
            term = pdf["term_id"].to_numpy(dtype=np.int32)
        doc = pdf["doc_id"].to_numpy(dtype=np.int64)
        pos = pdf["position"].to_numpy(dtype=np.int64)
        n = len(pdf)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (term[1:] != term[:-1]) | (doc[1:] != doc[:-1])
        starts = np.flatnonzero(change)
        tf = np.diff(np.append(starts, n)).astype(np.int64)
        out = {
            "term": term[starts] if id2term_bc is None else id2term_bc.value[term[starts]],
            "doc_id": doc[starts],
            "tf": tf,
            "positions": np.split(pos, starts[1:]),
        }
        if avgdl is not None:
            if weights_bc is not None:
                dl_arr, l2_arr = weights_bc.value
                group_docs = doc[starts]
                dl = dl_arr[group_docs]
                l2_group = l2_arr[group_docs]
            else:
                dl = pdf["doc_len"].to_numpy(dtype=np.float64)[starts]
                l2_group = pdf["l2_weight"].to_numpy(dtype=np.float64)[starts]
            tf_f = tf.astype(np.float64)
            out["wdt_bm25"] = ((BM25_K1 + 1.0) * tf_f) / (
                BM25_K1 * ((1.0 - BM25_B) + BM25_B * (dl / avgdl)) + tf_f
            )
            out["wdt_tfidf_norm"] = (1.0 + np.log(tf_f)) / l2_group
        return pd.DataFrame(out)

    @engine_kernel
    def fn(iterator):
        import pandas as pd

        carry = None
        for pdf in iterator:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            # the last (term, doc_id) group may continue in the next batch:
            # hold it back
            last_term = pdf[key_col].iloc[-1]
            last_doc = pdf["doc_id"].iloc[-1]
            tail_mask = (pdf[key_col] == last_term) & (pdf["doc_id"] == last_doc)
            split_at = len(pdf) - int(tail_mask.iloc[::-1].cummin().sum())
            carry = pdf.iloc[split_at:].reset_index(drop=True)
            if split_at:
                yield process(pdf.iloc[:split_at])
        if carry is not None and len(carry):
            yield process(carry)

    return fn


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
def pinned_build_conf(spark: SparkSession):
    """Pin BUILD shuffle config for the duration of a build/compaction and
    restore the session's previous values after.

    The build's shuffles (token-stream aggregations, the range shuffle) are
    CPU-heavy relative to their bytes, so AQE's byte-based partition
    coalescing would squeeze them onto a handful of tasks and serialize the
    build.  Serving wants the opposite (SparkIndex.warm() turns coalescing
    ON so tiny per-query reduce stages do not run at build width), and one
    session may interleave both — streaming ingest plus queries — so each
    phase pins its own sizing instead of fighting over the session default."""
    keys = ("spark.sql.adaptive.coalescePartitions.enabled",)
    prev = {}
    for k in keys:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
    spark.conf.set(keys[0], "false")
    try:
        yield
    finally:
        for k in keys:
            if prev[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev[k])


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


# One doc-side (ranged/docs/types cache) partition ≈ this many docs.  The
# ranged layout feeds EVERY doc-side pass of the build — tokenize+cache
# write, the zero-shuffle stats kernel, the postings map side — so
# width-sized partitions (8 at widths 1-8) ran those phases in 2 coarse
# waves at width 4 with a straggler tail: measured 2.8-3.0x phase speedups
# 1→4 where the token-balanced 16-partition segments phase hit 3.5x.
# Data-sizing is round 3's reduce-side fix applied to the map side.
DOCS_PER_DOC_PARTITION = 24_000


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
    single-partition window.

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
        # data-sized with the session width as floor (see
        # DOCS_PER_DOC_PARTITION).  The count is one cheap metadata-leaning
        # job over the source; its total is reused as the _n_docs hint.
        n_rows = df.count()
        n_partitions = max(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            -(-n_rows // DOCS_PER_DOC_PARTITION) if n_rows else 1,
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


# --- dictionary-encoded build path -------------------------------------------
# The build's dominant data movement is the (term, doc_id, position) range
# shuffle + external sort, and shuffle-heavy stages on wide executors are
# DRAM-bandwidth-bound (BENCH.md: this host streams at ~0.43 scaling
# efficiency 8->32 vs ~0.7 for compute).  Below VOCAB_ENCODE_MAX distinct
# types, the build therefore collects the type vocabulary ONCE, stems it
# driver-side (porter2 over the vocab, O(|vocab|) like the UDF path), assigns
# dense int32 term_ids in SORTED-TERM order, and shuffles
# (term_id:int, doc_id:long, position:int) rows — fixed 8-byte sort slots
# instead of variable-length strings, int sort-key comparisons instead of
# string prefix comparisons, and NO stem-dictionary subquery (distinct +
# Python UDF + broadcast exchange) re-executed per downstream action.
# Because ids follow sorted-term order, range-partitioning by term_id is
# range-partitioning by term: parquet min/max pruning and segment block
# order are unchanged.  Above the cutoff (or above BROADCAST_WEIGHTS_MAX_DOCS)
# the string-shuffle path below remains the plan — at 10^12-turn scale the
# dictionary itself is built distributively (sorted ids via a vocab-sized
# shuffle) and doc weights arrive by bucketed join, which is exactly what
# the fallback path expresses.
VOCAB_ENCODE_MAX = 1_500_000

DOC_STATS_SMALL_SCHEMA = "doc_id long, doc_len long, l2_weight double"


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


def _packed_postings(packed, avgdl: float | None, weights, id2term, d_bits: int, p_bits: int):
    """Sorted packed longs (term_id << (d_bits+p_bits) | doc_id << p_bits |
    position) -> the partition's postings as arrays: (run_starts,
    run_terms, doc, tf, positions_flat, wdt_bm25, wdt_tfidf_norm), where
    run_starts are the posting indices where a term begins and run_terms an
    Arrow string array with each run's term (only the partition's own terms
    are converted).  Sorting the long IS sorting (term_id, doc_id,
    position), so a (term, doc) group is a run of equal ``packed >> p_bits``
    and positions come out already flat and in order.  ``avgdl=None`` is
    the RAW form (the streaming delta): both weight arrays are None."""
    import numpy as np
    import pyarrow as pa

    n = len(packed)
    group = packed >> p_bits
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = group[1:] != group[:-1]
    starts = np.flatnonzero(change)
    tf = np.diff(np.append(starts, n))
    gkey = group[starts]
    doc = gkey & ((1 << d_bits) - 1)
    tid = gkey >> d_bits
    w_bm = w_ti = None
    if avgdl is not None:
        dl_arr, l2_arr = weights
        w_bm, w_ti = _doc_weights(tf, dl_arr[doc], l2_arr[doc], avgdl)
    tchange = np.empty(len(tid), dtype=bool)
    tchange[0] = True
    tchange[1:] = tid[1:] != tid[:-1]
    run_starts = np.flatnonzero(tchange)
    run_terms = pa.array(id2term[tid[run_starts]], type=pa.string())
    return run_starts, run_terms, doc, tf, packed & ((1 << p_bits) - 1), w_bm, w_ti


POSTINGS_FIELDS = ("term", "doc_id", "tf", "positions", "wdt_bm25", "wdt_tfidf_norm")
# postings rows per yielded Arrow batch (bounded kernel output memory)
_POSTINGS_CHUNK = 1 << 18


def _postings_batches(run_starts, run_terms, doc, tf, flat_pos, w_bm, w_ti):
    """Per-posting arrays -> POSTINGS_SCHEMA Arrow batches (RAW_POSTINGS_SCHEMA
    when the weights are None): the term column is a take() over the run
    terms, positions a ListArray over offsets into the flat array — no
    per-posting Python objects."""
    import numpy as np
    import pyarrow as pa

    n = len(doc)
    fields = list(POSTINGS_FIELDS) if w_bm is not None else list(POSTINGS_FIELDS[:4])
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
        ]
        if w_bm is not None:
            cols += [pa.array(w_bm[c0:c1]), pa.array(w_ti[c0:c1])]
        yield pa.RecordBatch.from_arrays(cols, names=fields)


def _whole_partition_packed(batches):
    """Concatenate a partition's ``packed`` column (block cuts must not
    depend on Arrow batch boundaries, so segment encoders see the whole
    sorted partition at once — one planned partition is tens of MB)."""
    import numpy as np

    chunks = [b.column("packed").to_numpy() for b in batches if b.num_rows]
    if not chunks:
        return None
    return chunks[0] if len(chunks) == 1 else np.concatenate(chunks)


def _postings_kernel_packed(
    avgdl: float | None, weights_bc, id2term_bc, d_bits: int, p_bits: int, doc_base: int = 0
):
    """mapInArrow postings kernel over partitions sorted by a single
    ``packed`` int64 (see _packed_postings for the key layout).  Sorting one
    long instead of (term_id, doc_id, position) makes the external sort
    compare 8-byte ints and shrinks shuffle rows to one field — the
    width-4/8 levels are memory-stall-bound, and sorted bytes convert
    directly into scaling headroom.  Batches stream: each emits its complete
    (term, doc) groups and carries the trailing one, so memory is
    O(batch + largest group).  ``avgdl=None`` emits RAW_POSTINGS_SCHEMA
    rows (no weights, ``weights_bc`` unused); ``doc_base`` is added to the
    packed doc ids, so a streaming epoch packs its own 0-based ids."""

    @engine_kernel
    def fn(batches):
        import numpy as np

        def emit(packed):
            run_starts, run_terms, doc, *rest = _packed_postings(
                packed,
                avgdl,
                None if weights_bc is None else weights_bc.value,
                id2term_bc.value,
                d_bits,
                p_bits,
            )
            yield from _postings_batches(run_starts, run_terms, doc + doc_base, *rest)

        carry = None
        for batch in batches:
            if not batch.num_rows:
                continue
            packed = batch.column("packed").to_numpy()
            if carry is not None:
                packed = np.concatenate([carry, packed])
            # rows of the trailing (term, doc) group may continue in the
            # next batch: hold them back
            group = packed >> p_bits
            split_at = int(np.searchsorted(group, group[-1], side="left"))
            carry = packed[split_at:]
            if split_at:
                yield from emit(packed[:split_at])
        if carry is not None and len(carry):
            yield from emit(carry)

    return fn


# side-written segment tmp files start with "." (Spark's file listing skips
# hidden names, so a tmp left by a killed task is never read as data) and
# carry this marker so _finalize_side_segments can sweep them
_SIDE_TMP = ".tmp-"


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
    from a persisted cache in a second job (_segments_partition_kernel).
    Measured alternatives at 900k/width 4: persist + second pass ≈ +13 s;
    persist + two CONCURRENT consumer jobs ≈ +17 s (DRAM contention on
    pinned cores).  Task retries are idempotent: the part file is named by
    partition id and committed with a hidden write-to-tmp + atomic rename;
    the _SUCCESS marker is written only after the whole job returns
    (_finalize_side_segments)."""

    @engine_kernel
    def fn(batches):
        postings = postings_of(batches)
        if postings is None:
            return
        if seg_dir is not None:
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark import TaskContext

            from searchengine_spark.indexing.segments import block_batch

            run_starts, run_terms, doc, tf, flat_pos, w_bm, w_ti = postings
            seg = block_batch(run_starts, run_terms, doc, tf, w_bm, w_ti, flat_pos)
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            name = f"part-{pid:05d}-fused.parquet"
            tmp = os.path.join(seg_dir, f".{name}{_SIDE_TMP}{os.getpid()}")
            pq.write_table(pa.Table.from_batches([seg]), tmp, compression="snappy")
            os.replace(tmp, os.path.join(seg_dir, name))
            del seg
        yield from _postings_batches(*postings)

    return fn


def _segments_partition_kernel(postings_of):
    """mapInArrow block-max segment kernel (SEGMENT_SCHEMA) over the same
    sorted partitions and ``postings_of`` source as _partition_kernel — the
    second pass of the two-pass shape (Iceberg sinks, resumed builds,
    non-local masters).  Block metadata come from segmented reductions and
    every blob of the partition from one codec.encode_blocks pass
    (segments.block_batch) — no per-block Python."""

    @engine_kernel
    def fn(batches):
        from searchengine_spark.indexing.segments import block_batch

        postings = postings_of(batches)
        if postings is not None:
            run_starts, run_terms, doc, tf, flat_pos, w_bm, w_ti = postings
            yield block_batch(run_starts, run_terms, doc, tf, w_bm, w_ti, flat_pos)

    return fn


def _packed_partition(avgdl: float, weights_bc, id2term_bc, d_bits: int, p_bits: int):
    """_partition_kernel source over sorted packed-long partitions: group
    detection and weights are _packed_postings' vectorized shift/compare
    ops, and positions are already a flat contiguous array."""

    def postings_of(batches):
        packed = _whole_partition_packed(batches)
        if packed is None:
            return None
        return _packed_postings(
            packed, avgdl, weights_bc.value, id2term_bc.value, d_bits, p_bits
        )

    return postings_of


def _segments_kernel_packed(avgdl: float, weights_bc, id2term_bc, d_bits: int, p_bits: int):
    """Block-max segment encoder over the sorted packed-long partitions the
    postings kernel consumes (the two-pass shape)."""
    return _segments_partition_kernel(
        _packed_partition(avgdl, weights_bc, id2term_bc, d_bits, p_bits)
    )


def _postings_segments_kernel_packed(
    avgdl: float, weights_bc, id2term_bc, d_bits: int, p_bits: int, seg_dir: str
):
    """The fused sink over sorted packed-long partitions: postings rows out,
    segment blocks side-written into ``seg_dir``."""
    return _partition_kernel(
        _packed_partition(avgdl, weights_bc, id2term_bc, d_bits, p_bits), seg_dir=seg_dir
    )


def _side_write_ok(spark: SparkSession, path: str) -> bool:
    """The fused side-write has executors write into ``path`` with plain
    file I/O, so it is only correct when every executor shares the driver's
    filesystem: a local master and a scheme-less local path."""
    return spark.sparkContext.master.startswith("local") and "://" not in path and not path.startswith("file:")


def _finalize_side_segments(spark: SparkSession, seg_dir: str, n_postings: int) -> None:
    """Commit the side-written segments dir after the producing job
    returned — the same completion contract as a Spark sink, so
    _stage_done/resume semantics are unchanged.  Tmp files of failed or
    killed task attempts are swept first.  An empty partition set still
    needs a schema-carrying parquet file (a bare dir fails schema inference
    on read-back), but only when there were no postings: postings rows with
    no visible part files mean the side-write did not land where the driver
    can see it, and committing an empty segments artifact would be a
    silently wrong index."""
    from .segments import SEGMENT_SCHEMA

    for name in os.listdir(seg_dir):
        if name.startswith(".") and _SIDE_TMP in name:
            os.remove(os.path.join(seg_dir, name))
    if not any(f.endswith(".parquet") and not f.startswith((".", "_")) for f in os.listdir(seg_dir)):
        if n_postings:
            raise RuntimeError(
                f"the fused build wrote {n_postings} postings but no segment "
                f"part files are visible in {seg_dir}"
            )
        spark.createDataFrame([], SEGMENT_SCHEMA).write.mode("overwrite").parquet(seg_dir)
        return  # Spark's committer wrote _SUCCESS
    with open(os.path.join(seg_dir, "_SUCCESS"), "w"):
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
        if c == 0:
            base[t] = part
            continue
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


def _vocab_id_maps(types_list: list[str]):
    """Driver-side stem + dense-id assignment over the distinct-type
    vocabulary.  Returns (tid_for_type int32 array parallel to types_list,
    id2term object array indexed by term_id, empty_tid or None).  term_ids
    follow sorted-term order so ordering by term_id == ordering by term."""
    import numpy as np

    from ..text.porter2 import stem as _stem

    stems = [_stem(t) for t in types_list]
    terms_sorted = sorted(set(stems))
    term_to_id = {t: i for i, t in enumerate(terms_sorted)}
    tid_for_type = np.fromiter(
        (term_to_id[s] for s in stems), dtype=np.int32, count=len(stems)
    )
    id2term = np.array(terms_sorted, dtype=object)
    return tid_for_type, id2term, term_to_id.get("")


def _encoded_routed_tokens(
    spark: SparkSession,
    types: DataFrame,
    types_list: list[str],
    tid_for_type,
    empty_tid: int | None,
    base_part,
    ksplit,
    vmap,
    pack_bits: tuple[int, int] | None = None,
) -> DataFrame:
    """(doc_id, position, type) -> (term_id, doc_id, position, _route)
    entirely JVM-side: a broadcast hash join against the (type -> term_id,
    base, ksplit) dictionary plus a tiny (part -> _route) join — whole-stage
    codegen end to end, no Python on the map side of the build's dominant
    shuffle (an Arrow-kernel variant of this encode measured ~25 s/900k
    turns of extra map-side CPU at width 2: the cache scan left and
    re-entered Python for a lookup the JVM join does in the same pass).
    The empty term drops out via the inner join (its row is omitted from
    the dictionary — spimi.py:137); hot terms stripe across their planned
    partitions by doc_id % ksplit; ``_route`` carries the
    murmur3-representative value so ``repartition(P, "_route")`` places
    every row on its exact planned partition."""
    import pandas as pd

    keep = [i for i, _t in enumerate(types_list) if empty_tid is None or tid_for_type[i] != empty_tid]
    map_pdf = pd.DataFrame(
        {
            "type": [types_list[i] for i in keep],
            "term_id": tid_for_type[keep].astype("int32"),
            "base": base_part[tid_for_type[keep]].astype("int32"),
            "ksplit": ksplit[tid_for_type[keep]].astype("int32"),
        }
    )
    map_df = spark.createDataFrame(map_pdf, "type string, term_id int, base int, ksplit int")
    route_pdf = pd.DataFrame(
        {"part": range(len(vmap)), "_route": vmap.astype("int32")}
    )
    route_df = spark.createDataFrame(route_pdf, "part int, _route int")
    routed = (
        types.join(F.broadcast(map_df), "type")
        .withColumn(
            "part", (F.col("base") + F.pmod(F.col("doc_id"), F.col("ksplit"))).cast("int")
        )
        .join(F.broadcast(route_df), "part")
    )
    if pack_bits is None:
        return routed.select("term_id", "doc_id", "position", "_route")
    # single-long key: term_id << (d+p) | doc_id << p | position — the
    # shuffle then carries 2 fields and the sort compares one int64
    # (see _postings_kernel_packed)
    d_bits, p_bits = pack_bits
    packed = (
        F.shiftleft(F.col("term_id").cast("long"), d_bits + p_bits)
        .bitwiseOR(F.shiftleft(F.col("doc_id"), p_bits))
        .bitwiseOR(F.col("position").cast("long"))
    )
    return routed.select(packed.alias("packed"), "_route")


class EncodedVocab(NamedTuple):
    """The driver dictionary of the encoded path: the distinct types, their
    dense term ids (sorted-term order), the id -> term strings, the empty
    term's id (None when no type stems to it), and each term's token total
    (the route planner's input; the empty term's total is zero)."""

    types_list: list
    tid_for_type: Any
    id2term: Any
    empty_tid: int | None
    term_tokens: Any


def _fused_tokenize(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> the persisted fused tokenize+stats frame: token rows
    (position >= 0) plus one stats pseudo-row (position = -1) per non-empty
    doc.  Doc stats ride the tokenize kernel, so the stats phase costs a
    cache-projection read instead of a second full Python-kernel scan of the
    token stream (the old _doc_stats_types_kernel pass: measured 19.6 s of a
    142 s width-4 900k-turn build).  Weight columns stay null on token rows
    (they reach the postings kernel by broadcast) — the columnar cache
    RLE-compresses them away."""
    from .build_dist import WEIGHTED_TYPES_SCHEMA, _fused_tokenize_stats_kernel

    return (
        docs.select("doc_id", "text")
        .mapInPandas(_fused_tokenize_stats_kernel("text", "doc_id"), schema=WEIGHTED_TYPES_SCHEMA)
        .persist()
    )


def _fused_types(fused: DataFrame) -> DataFrame:
    return fused.filter(F.col("position") >= 0).select("doc_id", "position", "type")


def _collect_vocab(types: DataFrame) -> EncodedVocab | None:
    """One per-type count collect -> the driver dictionary, or None when
    the vocabulary exceeds VOCAB_ENCODE_MAX.  The collect is limit-guarded:
    the aggregation's map side scans every types partition (materializing
    the fused cache) regardless of the limit, while the limit caps what can
    reach the driver — an over-cutoff vocabulary is never collected.  (An
    earlier shape ran approx_count_distinct first as the guard: a full
    extra pass over the token stream per build, ~8 s/900k turns at width 8,
    pure fixed cost.)"""
    import numpy as np

    vocab_pdf = (
        types.groupBy("type")
        .agg(F.count("*").alias("c"))
        .limit(VOCAB_ENCODE_MAX + 1)
        .toPandas()  # Arrow transfer — Row conversion is slow at 10^6 types
    )
    if len(vocab_pdf) > VOCAB_ENCODE_MAX:
        return None
    types_list = vocab_pdf["type"].tolist()
    tid_for_type, id2term, empty_tid = _vocab_id_maps(types_list)
    # exact per-term token totals (the driver-side partition plan's input)
    # fall out of the same collect
    term_tokens = np.zeros(len(id2term), dtype=np.int64)
    np.add.at(term_tokens, tid_for_type.astype(np.int64), vocab_pdf["c"].to_numpy(dtype=np.int64))
    if empty_tid is not None:
        term_tokens[empty_tid] = 0  # excluded from the postings stream
    return EncodedVocab(types_list, tid_for_type, id2term, empty_tid, term_tokens)


def _stats_rows(fused: DataFrame):
    """The fused pass's stats pseudo-rows as pandas (doc_id, doc_len,
    l2_weight): ONE cache-projection collect serves corpus stats and the
    kernel weight arrays.  Docs without tokens have no row."""
    return (
        fused.filter(F.col("position") < 0)
        .select("doc_id", F.col("doc_len").cast("long").alias("doc_len"), "l2_weight")
        .toPandas()
    )


def _route_plan(term_tokens, width_floor: int):
    """_plan_term_routes with a per-partition token target that spreads the
    stream over about ``width_floor`` partitions."""
    total = int(term_tokens.sum())
    return _plan_term_routes(term_tokens, max(1, -(-total // width_floor)))


def _planned_token_stream(
    spark: SparkSession, types: DataFrame, vocab: EncodedVocab, plan, n_doc_slots: int, max_dl: int
):
    """The encoded path's ONE token shuffle: routed through the driver's
    partition plan (_route_plan — no range-sampling job) and sorted within
    partitions.  Doc ids must lie in [0, n_doc_slots).  Returns (stream,
    pack_bits): a single ``packed`` long column (term_id | doc_id |
    position, see _packed_postings) with pack_bits = (d_bits, p_bits) when
    the key fits 63 bits — always under the encode-path cutoffs (21 + 23 +
    p), guarded anyway — else (term_id, doc_id, position) rows and None."""
    base_part, ksplit, n_parts = plan
    t_bits = max(1, len(vocab.id2term).bit_length())
    d_bits = max(1, int(n_doc_slots).bit_length())
    p_bits = max(1, int(max_dl + 1).bit_length())
    pack_bits = (d_bits, p_bits) if t_bits + d_bits + p_bits <= 63 else None
    enc = _encoded_routed_tokens(
        spark,
        types,
        vocab.types_list,
        vocab.tid_for_type,
        vocab.empty_tid,
        base_part,
        ksplit,
        _invert_partition_hash(n_parts),
        pack_bits=pack_bits,
    )
    routed = enc.repartition(n_parts, F.col("_route"))
    if pack_bits is not None:
        return routed.select("packed").sortWithinPartitions("packed"), pack_bits
    key = ("term_id", "doc_id", "position")
    return routed.select(*key).sortWithinPartitions(*key), None


def _doc_stats_frame(spark: SparkSession, docs: DataFrame, stats_pdf, meta_cols) -> DataFrame:
    """The doc_stats artifact: every doc's metadata joined to its collected
    stats row (docs without tokens get doc_len 0 and a null l2_weight)."""
    stats_small_df = spark.createDataFrame(stats_pdf, schema=DOC_STATS_SMALL_SCHEMA)
    return (
        docs.select("doc_id", *meta_cols)
        .join(stats_small_df, "doc_id", "left")
        .fillna({"doc_len": 0})
    )


BROADCAST_WEIGHTS_MAX_DOCS = 4_000_000  # ~100 MB of (doc_id, doc_len, l2)
# One postings reduce partition ≈ this many docs (~2M token rows, a
# ~100-200 MB sorted working set).  The range-shuffle partition count is
# max(session shuffle partitions, ceil(n_docs / this)) — see _build.
DOCS_PER_POSTINGS_PARTITION = 60_000


def dense_doc_weights(ids, doc_len, l2_weight, lo: int, size: int):
    """Dense (doc_len, l2_weight) float64 arrays over doc ids [lo, lo +
    size), slot ``doc_id - lo`` — the kernels' broadcast weight lookup.
    Slots of absent ids hold (0, 1).  Returns ``None`` when an id falls
    outside the range: without this guard a negative slot would silently
    index from the array end and produce wrong BM25/tf-idf weights, so the
    caller takes the id-agnostic per-row weight join instead."""
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


def doc_weight_arrays(doc_stats: DataFrame, n_docs: int):
    """Dense (doc_len, l2_weight) float64 arrays indexed by doc_id, for the
    kernel-side broadcast lookup (see _postings_kernel weights_bc).  doc_ids
    are dense 0..n-1 by construction (assign_doc_ids), so plain array
    indexing replaces the enrichment join.  16 bytes/doc: 64 MB at the
    4M-doc cutoff, collected once from the already-cached doc_stats.

    Returns ``None`` when the density contract does not hold (ids outside
    [0, n_docs) — e.g. a filtered/sparse-id corpus fed straight to
    IndexBuilder.build without re-running assign_doc_ids): the caller then
    falls back to the per-row enrichment join, which is id-agnostic."""
    import numpy as np

    pdf = doc_stats.select("doc_id", "doc_len", "l2_weight").toPandas()
    return dense_doc_weights(
        pdf["doc_id"].to_numpy(dtype=np.int64),
        pdf["doc_len"].to_numpy(dtype=np.float64),
        pdf["l2_weight"].to_numpy(dtype=np.float64),
        0,
        n_docs,
    )


def enriched_tokens(
    tokens: DataFrame,
    doc_stats: DataFrame,
    n_docs: int,
    n_partitions: int,
    carry_weights: bool | None = None,
) -> DataFrame:
    """Token stream range-partitioned and sorted for the postings kernel —
    the build's dominant data movement.

    Below BROADCAST_WEIGHTS_MAX_DOCS the stream carries ONLY
    (term, doc_id, position): the per-doc weight inputs reach the kernel
    via a broadcast array (doc_weight_arrays), so the range shuffle +
    external sort move 16 fewer bytes per token occurrence and no join
    appears in the plan at all.  The shuffle/sort is memory-BANDWIDTH-bound
    at high parallelism (tools/host_capacity_probe.py --bw: this host
    streams at ~0.43 scaling efficiency 8->32 vs 0.68-0.71 for pure
    compute), so shuffled bytes — not cycles — are the scaling bottleneck.

    Above the cutoff the weights are joined on per-row: doc_id-bucketed
    sort-merge is the intended plan at 10^12 scale (the optimizer sizes
    the FULL doc_stats frame, so no broadcast would apply there anyway)
    and the kernel reads doc_len/l2_weight off its input columns.

    Next bytes-lever at 10^12 turns (not yet needed at sandbox scale):
    dictionary-encode ``term`` to an int id before this shuffle (the stem
    dictionary the build already broadcasts is the natural id space) so the
    range shuffle moves 16-byte rows instead of repeated strings —
    shuffle-heavy stages on wide executors are DRAM-bandwidth-bound
    (BENCH.md), so bytes, not cycles, are the scaling currency.

    ``carry_weights`` overrides the size-based default: True forces the
    per-row join (used when the broadcast-array path declined — sparse
    doc_ids), False forces the bare stream."""
    if carry_weights is None:
        carry_weights = n_docs > BROADCAST_WEIGHTS_MAX_DOCS
    stream = tokens.filter(F.col("term") != "")
    if carry_weights:
        stream = stream.join(
            doc_stats.select("doc_id", "doc_len", "l2_weight"), "doc_id"
        )
    return (
        stream.repartitionByRange(n_partitions, "term", "doc_id")
        .sortWithinPartitions("term", "doc_id", "position")
    )


def prepare_transcripts(df: DataFrame) -> DataFrame:
    """Transcript table (input_hint schema) -> docs: one turn = one document;
    title = conv_id:turn_idx (SURVEY.md §1.3)."""
    docs = assign_doc_ids(df)
    out = docs.withColumn("title", F.concat_ws(":", "conv_id", "turn_idx"))
    out._docid_cache = docs._docid_cache
    out._n_docs = docs._n_docs
    return out


def _write(df: DataFrame, path: str, sort_partition: bool = False) -> None:
    df.write.mode("overwrite").parquet(path)


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

        EVERY build shuffle — the stats-phase (term, doc_id) aggregation as
        much as the postings range shuffle — is sized by DATA with the
        session width as floor: a reduce partition is a sorted/hash-agg
        working set, and core-count-sized partitions grow with the corpus
        until they outrun the memory hierarchy (measured: 1.8M turns at 8
        tasks built in 675 s with the stats shuffle at 8 partitions vs
        280 s with every shuffle at ~31 — the postings shuffle alone being
        data-sized recovered less than half the loss).  The corpus size is
        free at this point: assign_doc_ids attaches its counting-pass total
        as ``_n_docs``; without the hint one narrow count() pays for both
        the shuffle sizing and the encoded-path eligibility decision.

        Path selection: corpora ≤ BROADCAST_WEIGHTS_MAX_DOCS take the
        dictionary-encoded path (_build_encoded — int term_id shuffle,
        zero-shuffle doc stats, one fused stats collect); larger corpora or
        vocabularies beyond VOCAB_ENCODE_MAX take the string-shuffle path
        (_build) whose per-row weight join and distributed stem dictionary
        are the right plan at that scale."""
        n_docs_hint = getattr(docs, "_n_docs", None)
        if n_docs_hint is None:
            n_docs_hint = docs.count()
        sp_build = self.n_partitions
        if n_docs_hint:
            sp_build = max(sp_build, -(-int(n_docs_hint) // DOCS_PER_POSTINGS_PARTITION))
        prev_sp = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(sp_build))
        self._sp_build = sp_build
        try:
            with pinned_build_conf(self.spark):
                if 0 < n_docs_hint <= BROADCAST_WEIGHTS_MAX_DOCS:
                    return self._build_encoded(docs, int(n_docs_hint), resume=resume)
                if n_docs_hint > BROADCAST_WEIGHTS_MAX_DOCS:
                    # over-cutoff corpora keep the packed-int shuffle via the
                    # fully distributed dictionary (build_dist module)
                    from .build_dist import build_encoded_dist

                    return build_encoded_dist(self, docs, int(n_docs_hint), resume=resume)
                return self._build(docs, resume=resume)
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    def _build(self, docs: DataFrame, resume: bool = False) -> dict:
        clock = PhaseClock()
        lap = clock.lap

        if resume:
            self._load_manifest()

        spark = self.spark
        out = self.out_dir
        meta_cols = [c for c in ("title", *META_COLS) if c in docs.columns]
        # phase labels surface in the Spark UI / REST API so per-stage
        # metrics (tools/stage_profile.py) attribute cleanly; job
        # descriptions are thread-local, so the background stats writer
        # labels its own jobs separately
        set_desc = spark.sparkContext.setJobDescription

        # persisted: docs feeds two consumers (the tokenize type stream and
        # the doc_stats meta projection); when it comes from assign_doc_ids
        # each recompute would re-scan the ranged cache (measured ~20%
        # slower end-to-end than caching the numbered frame once, when the
        # numbering was still a Python pass).
        docs = docs.persist()  # lazily materialized by the first stage

        # tokens including empty terms (doc_length/L_d accounting,
        # spimi.py:74-93).  The post-cleaning type stream is cached
        # (persist_types): the stem-dictionary subquery, the stats
        # aggregation, the range partitioner's sampling pass, and the final
        # postings pass would otherwise each re-run the explode+regex chain.
        tokens = tokenize(docs, text_col="text", id_col="doc_id", persist_types=True)

        # B1 for stats only: tf per (term, doc) via codegen hash agg — counts
        # only, so Tungsten's unsafe-row aggregation applies (the
        # positions-array aggregation deliberately does NOT run through
        # collect_list: ObjectHashAggregate is object-based, GC-bound, and
        # falls back to sort-based at 128 keys — measured 3-6x slower than
        # the sort+kernel path below at 150k turns).
        tf_table = tokens.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))

        # B5/B6: per-doc stats (include the empty term, exclude nothing).
        # The frame is persisted and materialized by the corpus-stats
        # aggregation (which the build needs anyway for avgdl); the parquet
        # writes then run in a BACKGROUND thread against the cache while the
        # main thread proceeds into the postings stage — the writes were a
        # pure serial barrier between the two data-proportional stages
        # (Spark job submission is thread-safe; the cache is materialized
        # before the thread starts, so no partition is computed twice).
        import threading

        stats_cache = None
        writer: threading.Thread | None = None
        writer_err: list[BaseException] = []
        # resume gate requires BOTH stats artifacts: they are written/marked
        # together now, but a manifest from a build that crashed between the
        # two writes could have doc_stats done and corpus_stats missing —
        # recompute the whole stats phase rather than fail the read-back
        stats_done = self._stage_done("doc_stats") and self._stage_done("corpus_stats")
        if not stats_done or not resume:
            stats_cache = (
                docs.select("doc_id", *meta_cols)
                .join(doc_stats_table(tf_table), "doc_id", "left")
                .fillna({"doc_len": 0})
                .persist()
            )
            doc_stats = stats_cache
            set_desc("phase:stats — materialize doc/type caches + corpus stats")
            stats_row = corpus_stats_table(stats_cache).collect()[0]
            lap("stats_action")
            # Data-wise the RANGED corpus cache behind assign_doc_ids is
            # redundant from here on (the corpus-stats action materialized
            # the enumerated docs + token type caches), but it must NOT be
            # released mid-build: Dataset.unpersist() makes the CacheManager
            # re-register every dependent cache entry (docs, types,
            # stats_cache) and CLEAR their materialized buffers, so the
            # postings phase silently recomputed all three — measured 27%
            # slower end-to-end than carrying both text copies (which are
            # MEMORY_AND_DISK — the second copy costs disk, not heap) to the
            # single release at the end of the build.

            def write_stats() -> None:
                try:
                    set_desc("phase:stats-write (background) — doc_stats + corpus_stats parquet")
                    self._write_stage(stats_cache, "doc_stats")
                    self._write_stage(corpus_stats_table(stats_cache), "corpus_stats")
                except BaseException as e:  # surfaced after join()
                    writer_err.append(e)

            writer = threading.Thread(target=write_stats, daemon=True)
            writer.start()
        else:
            doc_stats = self._read_stage("doc_stats")
            stats_row = self._read_stage("corpus_stats").collect()[0]

        avgdl = float(stats_row["avgdl"])
        n_docs = int(stats_row["n_docs"])

        # B2/B3 + K3/K4: the SPIMI sort-merge as ONE range shuffle.  Token
        # rows — bare (term, doc_id, position) at sandbox scale, the weight
        # inputs riding a broadcast array into the kernel; doc_id-bucketed
        # SMJ enrichment at 10^12 scale — are range-partitioned on
        # (term, doc_id) — hot terms split across partitions, defusing skew
        # — sorted by (term, doc_id, position), and a vectorized numpy
        # kernel forms (tf, positions, wdt_*) per group in one linear pass.
        # No object aggregation anywhere; spill is the engine's external
        # sort.  Empty terms are excluded from the index (spimi.py:137)
        # after stats, matching the reference.
        # Postings range-shuffle width: the data-aware build width (see
        # build()), re-maxed against the EXACT n_docs in case the builder
        # was invoked without the assign_doc_ids hint (file corpora, resume).
        postings_partitions = max(
            getattr(self, "_sp_build", self.n_partitions),
            -(-n_docs // DOCS_PER_POSTINGS_PARTITION),
        )
        postings_cache = None
        weights_bc = None
        if not self._stage_done("postings") or not resume:
            if n_docs <= BROADCAST_WEIGHTS_MAX_DOCS:
                set_desc("phase:postings — collect doc weight arrays")
                arrays = doc_weight_arrays(doc_stats, n_docs)
                if arrays is not None:
                    weights_bc = spark.sparkContext.broadcast(arrays)
                lap("weights_collect")
            set_desc("phase:postings — range shuffle + kernel + parquet write")
            enriched = enriched_tokens(
                tokens,
                doc_stats,
                n_docs,
                postings_partitions,
                carry_weights=weights_bc is None,
            )
            # persisted so the segments stage encodes from the SAME sorted
            # partitions — no second range shuffle (at cluster scale the
            # equivalent is deriving segments from the just-written sorted
            # files without re-shuffling)
            postings_cache = enriched.mapInPandas(
                _postings_kernel(avgdl, weights_bc), schema=POSTINGS_SCHEMA
            ).persist()
            self._write_stage(postings_cache, "postings")
            self._mark_stage("postings")
            lap("postings")

        if writer is not None:
            writer.join()
            if writer_err:
                raise writer_err[0]
            self._mark_stage("doc_stats")
            self._mark_stage("corpus_stats")
            stats_cache.unpersist()
            lap("stats_write_join")

        return self._finish(
            clock=clock,
            docs=docs,
            n_docs=n_docs,
            avgdl=avgdl,
            total_tokens=int(stats_row["total_tokens"]),
            postings_cache=postings_cache,
            weights_bc=weights_bc,
            postings_partitions=postings_partitions,
            set_desc=set_desc,
            resume=resume,
            types_cache=getattr(tokens, "_types_cache", None),
        )

    def _finish(
        self,
        clock: PhaseClock,
        docs,
        n_docs,
        avgdl,
        total_tokens,
        postings_cache,
        weights_bc,
        postings_partitions,
        set_desc,
        resume,
        types_cache=None,
        packed_cache=None,
        seg_kernel=None,
        segments_done=False,
    ) -> dict:
        """Shared build tail: segments, dictionary, metrics, cache release —
        identical for the string-shuffle and dictionary-encoded paths (both
        hand over a sorted-by-(term, doc_id) postings cache/artifact; the
        packed path hands the compact packed-long cache instead — or, on
        the fused-sink path, arrives with BOTH artifacts already written
        and every cache argument None)."""
        spark = self.spark
        out = self.out_dir
        lap = clock.lap
        postings_df = self._read_stage("postings")

        # S5/B4: compressed block-max segments (delta+varbyte blobs; the
        # reference's postings.bin, spimi.py:145-187, plus the varbyte the
        # north rule adds) — encoded from the cached sorted packed longs
        # (encoded path) or postings rows when the stage runs in the same
        # build, else from a re-sorted read-back.
        # segments_done: the fused-sink postings pass already side-wrote and
        # marked this build's segments — fresh builds ignore stage markers
        # (they only gate resume), so the flag is the signal that the
        # artifact is THIS build's output, not a stale leftover
        if not segments_done and (not self._stage_done("segments") or not resume):
            from .segments import SEGMENT_SCHEMA, encode_segments

            set_desc("phase:segments — varbyte block encode + write")
            if packed_cache is not None:
                seg_df = packed_cache.mapInArrow(seg_kernel, schema=SEGMENT_SCHEMA)
            elif postings_cache is not None:
                seg_df = encode_segments(postings_cache)
            else:
                seg_df = encode_segments(
                    postings_df.repartitionByRange(
                        postings_partitions, "term", "doc_id"
                    ).sortWithinPartitions("term", "doc_id")
                )
            self._write_stage(seg_df, "segments")
            self._mark_stage("segments")
            lap("segments")
        if postings_cache is not None:
            postings_cache.unpersist()
        if packed_cache is not None:
            packed_cache.unpersist()
        if weights_bc is not None:
            # postings + segments both materialized above; free the worker-side
            # weight arrays (they would otherwise pin ~16 bytes/doc per worker
            # for the life of the session)
            weights_bc.unpersist()

        # B7 + block-max metadata: the broadcastable dictionary.  Per-term
        # block-max tops ride along (top-32 block maxima, min block max,
        # block count, per scoring mode) so WAND derives its theta lower
        # bound and prune-or-fall-through decision from the SAME tiny
        # dictionary collect it already pays — zero extra jobs at query time
        # (wand.py metadata mode).
        term_stats_cache = None
        if not self._stage_done("term_stats") or not resume:
            set_desc("phase:term_stats — dictionary + block-max meta")
            # persisted: the metrics phase below aggregates the SAME
            # vocab-sized frame (max/avg df, Σ n_blocks, Σ postings_bytes)
            # — one segments scan total instead of the three full-table
            # passes the unfused tail paid (term_stats derive, term_stats
            # read-back for df stats, segments re-scan for byte totals)
            term_stats_cache = term_stats_with_block_meta(
                self._read_stage("segments"), postings_df
            ).persist()
            self._write_stage(
                term_stats_cache.repartitionByRange(
                    max(1, self.n_partitions // 4), "term"
                ),
                "term_stats",
            )
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
                    postings_df.groupBy("doc_id").agg(
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
            sum(p["rows"] for p in lineage) if lineage else postings_df.count()
        )
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
        if types_cache is not None:
            types_cache.unpersist()
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


    def _build_encoded(self, docs: DataFrame, n_docs: int, resume: bool = False) -> dict:
        """Dictionary-encoded build (see VOCAB_ENCODE_MAX comment): the same
        artifacts as _build, produced with

          * ONE driver-side vocab collect instead of a stem-dictionary
            subquery (distinct + Python UDF + broadcast exchange) re-executed
            under every downstream action;
          * ZERO-shuffle doc stats (_doc_stats_types_kernel) instead of the
            full-token-stream groupBy(term, doc_id) aggregation;
          * ONE fused stats collect serving corpus stats AND the kernel
            weight arrays (two driver actions in _build);
          * a range shuffle of (term_id:int32, doc_id, position) rows —
            fixed-width int sort keys instead of strings, directly attacking
            the DRAM-bandwidth wall that bounds wide-executor scaling
            (BENCH.md: streaming bw scales at 0.43 8→32 on this host).

        Falls back to _build when the vocabulary exceeds VOCAB_ENCODE_MAX or
        doc_ids are outside a broadcastable range."""
        import threading

        import numpy as np

        clock = PhaseClock()
        lap = clock.lap

        if resume:
            self._load_manifest()
        spark = self.spark
        out = self.out_dir
        meta_cols = [c for c in ("title", *META_COLS) if c in docs.columns]
        set_desc = spark.sparkContext.setJobDescription

        docs = docs.persist()
        # fused tokenize+stats pass (round-5): doc stats ride the tokenize
        # kernel as position=-1 pseudo-rows (see _fused_tokenize)
        fused = _fused_tokenize(docs)
        types = _fused_types(fused)

        # -- vocab: one tokenize pass materializes the caches; the distinct
        # collect then reads them (limit-guarded, see _collect_vocab)
        set_desc("phase:vocab — tokenize pass + per-type count collect")
        vocab = _collect_vocab(types)
        if vocab is None:
            # over-cutoff vocabulary: the dictionary itself is built
            # distributively and the packed-int shuffle survives
            # (build_dist module) instead of reverting to the string plan
            from .build_dist import build_encoded_dist

            fused.unpersist()
            return build_encoded_dist(self, docs, n_docs, resume=resume)
        id2term_bc = spark.sparkContext.broadcast(vocab.id2term)
        lap("vocab_collect")

        # -- stats: already computed by the fused tokenize pass (pseudo
        # rows) — ONE cache-projection collect serves corpus stats AND the
        # kernel weight arrays; parquet writes overlap the postings phase
        # in a background thread exactly like _build.
        stats_done = self._stage_done("doc_stats") and self._stage_done("corpus_stats")
        fresh_stats = not stats_done or not resume
        set_desc("phase:stats — fused-pass pseudo-row collect")
        if fresh_stats:
            stats_pdf = _stats_rows(fused)
        else:
            stats_pdf = (
                self._read_stage("doc_stats")
                .select("doc_id", "doc_len", "l2_weight")
                .toPandas()
            )
            stats_pdf = stats_pdf[stats_pdf["doc_len"] > 0]
        total_tokens = int(stats_pdf["doc_len"].sum())
        avgdl = (total_tokens / n_docs) if n_docs else 0.0

        ids = stats_pdf["doc_id"].to_numpy(dtype=np.int64)
        arr_size = max(n_docs, int(ids.max()) + 1) if len(ids) else n_docs
        weights = dense_doc_weights(
            ids,
            stats_pdf["doc_len"].to_numpy(dtype=np.float64),
            stats_pdf["l2_weight"].to_numpy(dtype=np.float64),
            0,
            min(arr_size, 2 * BROADCAST_WEIGHTS_MAX_DOCS),
        )
        if weights is None:
            # ids outside any broadcastable dense range: the per-row
            # weight join path handles arbitrary ids
            fused.unpersist()
            return self._build(docs, resume=resume)
        weights_bc = spark.sparkContext.broadcast(weights)
        lap("stats_collect")

        writer: threading.Thread | None = None
        writer_err: list[BaseException] = []
        if fresh_stats:

            def write_stats() -> None:
                try:
                    set_desc("phase:stats-write (background) — doc_stats + corpus_stats parquet")
                    # pandas -> JVM upload happens on THIS thread: it is part
                    # of the overlapped write, not the critical path
                    self._write_stage(
                        _doc_stats_frame(spark, docs, stats_pdf, meta_cols), "doc_stats"
                    )
                    corpus_df = spark.createDataFrame(
                        [(n_docs, total_tokens, float(avgdl))],
                        "n_docs bigint, total_tokens bigint, avgdl double",
                    )
                    self._write_stage(corpus_df, "corpus_stats")
                except BaseException as e:  # surfaced after join()
                    writer_err.append(e)

            writer = threading.Thread(target=write_stats, daemon=True)
            writer.start()

        # -- postings: driver-planned shuffle + kernel.  Weights + term
        # strings ride broadcasts into the kernel; the shuffle carries three
        # fixed-width columns; the partition ASSIGNMENT is computed on the
        # driver from the exact per-term token totals (greedy contiguous
        # packing, hot terms striped by doc_id % k) and routed through
        # murmur3-representative values — no range-sampling pass over the
        # token stream, no sampling error in the balance, skew defused
        # deterministically.
        width_floor = max(
            getattr(self, "_sp_build", self.n_partitions),
            -(-n_docs // DOCS_PER_POSTINGS_PARTITION),
        )
        plan = _route_plan(vocab.term_tokens, width_floor)
        postings_partitions = plan[2]
        postings_cache = None
        packed_cache = None
        seg_kernel = None
        fused_segments_done = False
        if not self._stage_done("postings") or not resume:
            set_desc("phase:postings — planned packed-long shuffle + kernel + parquet write")
            max_dl = int(stats_pdf["doc_len"].max()) if len(stats_pdf) else 0
            stream, pack_bits = _planned_token_stream(spark, types, vocab, plan, arr_size, max_dl)
            if pack_bits is not None:
                d_bits, p_bits = pack_bits
                seg_dir = self._stage_target("segments")
                fuse_segments = (
                    not self._iceberg_ok
                    and _side_write_ok(spark, seg_dir)
                    and (not self._stage_done("segments") or not resume)
                )
                if fuse_segments:
                    # ONE pass cuts BOTH artifacts: the kernel emits the
                    # postings rows (Spark's parquet sink) AND side-writes
                    # its partition's segment blocks as a parquet part file
                    # (pyarrow, tmp+rename so a task retry is idempotent;
                    # local masters only, see _side_write_ok).
                    # The alternatives both lose on this memory-bound stage:
                    # a persisted packed cache + second segments pass pays a
                    # cache store and a full decompress re-scan (~13 s/900k
                    # at width 4), and overlapping two cache consumers as
                    # concurrent jobs measured WORSE (145 s vs 120 s walls —
                    # two streaming kernels thrash the pinned cores' DRAM
                    # bandwidth).  One sorted stream, touched once, nothing
                    # persisted.  Iceberg sinks keep the two-pass shape
                    # (segments must go through the snapshot commit).
                    import shutil

                    shutil.rmtree(seg_dir, ignore_errors=True)
                    os.makedirs(seg_dir, exist_ok=True)
                    set_desc(
                        "phase:postings+segments — one packed pass, fused sinks"
                    )
                    kernel = _postings_segments_kernel_packed(
                        avgdl, weights_bc, id2term_bc, d_bits, p_bits, seg_dir
                    )
                    self._write_stage(
                        stream.mapInArrow(kernel, schema=POSTINGS_SCHEMA),
                        "postings",
                    )
                    self._mark_stage("postings")
                    _finalize_side_segments(
                        spark,
                        seg_dir,
                        sum(p["rows"] for p in self.manifest["stages"]["postings"]["partitions"]),
                    )
                    self._mark_stage("segments")
                    fused_segments_done = True
                    lap("postings_segments")
                else:
                    packed_cache = stream.persist()
                    kernel = _postings_kernel_packed(
                        avgdl, weights_bc, id2term_bc, d_bits, p_bits
                    )
                    self._write_stage(
                        packed_cache.mapInArrow(kernel, schema=POSTINGS_SCHEMA),
                        "postings",
                    )
                    seg_kernel = _segments_kernel_packed(
                        avgdl, weights_bc, id2term_bc, d_bits, p_bits
                    )
                    self._mark_stage("postings")
                    lap("postings")
            else:
                kernel = _postings_kernel(avgdl, weights_bc, id2term_bc)
                postings_cache = stream.mapInPandas(kernel, schema=POSTINGS_SCHEMA).persist()
                self._write_stage(postings_cache, "postings")
                self._mark_stage("postings")
                lap("postings")

        if writer is not None:
            writer.join()
            if writer_err:
                raise writer_err[0]
            self._mark_stage("doc_stats")
            self._mark_stage("corpus_stats")
            lap("stats_write_join")

        return self._finish(
            clock=clock,
            docs=docs,
            n_docs=n_docs,
            avgdl=avgdl,
            total_tokens=total_tokens,
            postings_cache=postings_cache,
            weights_bc=weights_bc,
            postings_partitions=postings_partitions,
            set_desc=set_desc,
            resume=resume,
            types_cache=fused,
            packed_cache=packed_cache,
            seg_kernel=seg_kernel,
            segments_done=fused_segments_done,
        )


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
