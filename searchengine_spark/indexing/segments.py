"""Compressed block-max segment layer (SURVEY.md §2 S5/B4, §7 Phase 2+4).

Turns the logical postings table — range-partitioned and sorted by
(term, doc_id) — into fixed-size posting *blocks*, each carrying:

  term, n_postings, doc_id_min, doc_id_max,
  max_wdt_bm25, max_wdt_tfidf_norm,           <- block-max WAND metadata
  postings_bin                                 <- delta+varbyte blob (codec.py)

The encode runs as ``mapInArrow`` over the already-sorted partitions: no
extra shuffle, no per-term groupBy (a hot term's postings are simply cut into
many blocks, possibly across partitions — block metadata is purely local, so
skew cannot concentrate work).  :func:`block_batch` is the one block cutter
every build path shares: block metadata are segmented numpy reductions over
the block starts and all blobs come from one ``codec.encode_blocks`` pass,
so no Python runs per block.  This is the Spark-native replacement for the
reference's per-term binary records (engine/indexing/spimi.py:145-187), with
varbyte compression the reference lacks (it writes fixed u32).

Decode is the inverse ``mapInArrow`` — used by tests to prove the blob layer
is lossless, and by the WAND query path to materialize only surviving blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

BLOCK_SIZE = 128

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("n_postings", T.IntegerType()),
        T.StructField("doc_id_min", T.LongType()),
        T.StructField("doc_id_max", T.LongType()),
        T.StructField("max_wdt_bm25", T.DoubleType()),
        T.StructField("max_wdt_tfidf_norm", T.DoubleType()),
        # per-block Σtf: lets the dictionary (df, cf, block-max meta) be
        # aggregated from these ~n_postings/BLOCK_SIZE block rows instead of
        # re-scanning the full postings table — a width-independent driver
        # barrier at build time (term_stats phase) that the scaling fit
        # charged at ~5-7 s/build regardless of corpus or core count
        T.StructField("sum_tf", T.LongType()),
        T.StructField("postings_bin", T.BinaryType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.LongType()),
        T.StructField("positions", T.ArrayType(T.LongType())),
    ]
)


def block_batch(run_starts, run_terms, doc_ids, tfs, w_bm, w_ti, positions_flat):
    """Sorted postings of one partition -> its segment rows as ONE Arrow
    record batch (SEGMENT_SCHEMA).  ``run_terms`` is an Arrow string array
    with one entry per term run; the per-posting numpy arrays are sorted by
    (term, doc_id).  Block metadata is segmented reductions over the block
    starts and every blob comes from one codec.encode_blocks pass — no
    per-block Python."""
    import numpy as np
    import pyarrow as pa

    from searchengine_spark.indexing.codec import encode_blocks

    n = len(doc_ids)
    # cut every term run into BLOCK_SIZE-posting blocks: block_run is each
    # block's run, starts its first posting
    run_len = np.diff(np.append(run_starts, n))
    per_run = -(-run_len // BLOCK_SIZE)
    block_run = np.repeat(np.arange(len(run_starts), dtype=np.int64), per_run)
    within = np.arange(block_run.size, dtype=np.int64) - (np.cumsum(per_run) - per_run)[block_run]
    starts = np.asarray(run_starts, dtype=np.int64)[block_run] + BLOCK_SIZE * within
    last = np.append(starts[1:], n) - 1
    data, offsets = encode_blocks(doc_ids, tfs, positions_flat, starts)
    if data.size >= 2**31:  # Arrow binary offsets are int32
        raise ValueError(f"{data.size} segment bytes in one batch exceed Arrow binary offsets")
    blobs = pa.Array.from_buffers(
        pa.binary(),
        len(starts),
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    return pa.RecordBatch.from_arrays(
        [
            run_terms.take(pa.array(block_run)),
            pa.array(np.diff(np.append(starts, n)).astype(np.int32)),
            pa.array(doc_ids[starts]),
            pa.array(doc_ids[last]),
            pa.array(np.maximum.reduceat(w_bm, starts)),
            pa.array(np.maximum.reduceat(w_ti, starts)),
            pa.array(np.add.reduceat(np.asarray(tfs, dtype=np.int64), starts)),
            blobs,
        ],
        names=SEGMENT_SCHEMA.fieldNames(),
    )


def term_runs(terms):
    """Run starts of a sorted Arrow string column -> (run_starts, run_terms)."""
    import numpy as np
    import pyarrow.compute as pc

    ree = pc.run_end_encode(terms)
    ends = ree.run_ends.to_numpy().astype(np.int64)
    return np.concatenate(([0], ends[:-1])), ree.values


def _encode_partition(batches):
    """Each Arrow batch is cut into blocks on its own: block boundaries
    restart at batch boundaries, so segments re-encoded by streaming
    compaction keep the block layout of the segments already written."""
    for batch in batches:
        if not batch.num_rows:
            continue
        run_starts, run_terms = term_runs(batch.column("term"))
        yield block_batch(
            run_starts,
            run_terms,
            batch.column("doc_id").to_numpy(),
            batch.column("tf").to_numpy(),
            batch.column("wdt_bm25").to_numpy(),
            batch.column("wdt_tfidf_norm").to_numpy(),
            batch.column("positions").flatten().to_numpy(),
        )


def encode_segments(postings_sorted: DataFrame) -> DataFrame:
    """postings_sorted must already be partitioned+sorted by (term, doc_id) —
    the build's shuffle output; encoding adds no shuffle of its own."""
    cols = postings_sorted.select(
        "term", "doc_id", "tf", "positions", "wdt_bm25", "wdt_tfidf_norm"
    )
    return cols.mapInArrow(_encode_partition, schema=SEGMENT_SCHEMA)


def _decode_partition(batches):
    """Segment rows -> their logical postings, one Arrow batch per input
    batch: each blob decodes to flat (doc_ids, tfs, positions) arrays and
    the positions column is a ListArray over tf offsets — no per-posting
    Python objects."""
    import numpy as np
    import pyarrow as pa

    from searchengine_spark.indexing.codec import decode_block

    for batch in batches:
        if not batch.num_rows:
            continue
        decoded = [decode_block(b) for b in batch.column("postings_bin").to_pylist()]
        doc_ids, tfs, positions = (np.concatenate(part).astype(np.int64) for part in zip(*decoded))
        block_of = np.repeat(np.arange(len(decoded)), [d.size for d, _, _ in decoded])
        offsets = np.zeros(tfs.size + 1, dtype=np.int64)
        np.cumsum(tfs, out=offsets[1:])
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("term").take(pa.array(block_of)),
                pa.array(doc_ids),
                pa.array(tfs),
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(positions)),
            ],
            names=DECODED_SCHEMA.fieldNames(),
        )


def decode_segments(segments: DataFrame) -> DataFrame:
    """Inverse of :func:`encode_segments` (logical postings rows)."""
    return segments.select("term", "postings_bin").mapInArrow(
        _decode_partition, schema=DECODED_SCHEMA
    )
