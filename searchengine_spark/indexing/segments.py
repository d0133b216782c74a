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

from ..worker import engine_kernel

BLOCK_SIZE = 128

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("n_postings", T.IntegerType()),
        T.StructField("doc_id_min", T.LongType()),
        T.StructField("doc_id_max", T.LongType()),
        T.StructField("max_wdt_bm25", T.DoubleType()),
        T.StructField("max_wdt_tfidf_norm", T.DoubleType()),
        # per-block Σtf: the dictionary's cf.  The fused sink reduces these
        # block rows to per-term summaries in the kernel (block_summary) and
        # the driver merges them; the two-pass sink, resumed builds and the
        # tier merge aggregate the same ~n_postings/BLOCK_SIZE rows in Spark
        # (term_stats_with_block_meta) — none re-scans the postings table
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


# --- the dictionary from block rows ------------------------------------------
# term_stats columns (the order term_stats_with_block_meta writes them) and
# the length of the per-term block-max top lists WAND reads
TERM_STATS_FIELDS = (
    "term",
    "df",
    "cf",
    "max_wdt_bm25",
    "max_wdt_tfidf_norm",
    "top_block_max_bm25",
    "min_block_max_bm25",
    "top_block_max_tfidf_norm",
    "min_block_max_tfidf_norm",
    "n_blocks",
    "postings_bytes",
)
TOP_BLOCK_MAX = 32


def _term_stats_schema():
    import pyarrow as pa

    f64, i64 = pa.float64(), pa.int64()
    types = (pa.string(), i64, i64, f64, f64, pa.list_(f64), f64, pa.list_(f64), f64, i64, i64)
    return pa.schema(list(zip(TERM_STATS_FIELDS, types)))


def _top_lists(values, group, n_groups: int):
    """Per-group top-TOP_BLOCK_MAX values, descending, as a ListArray —
    ``group`` is each value's group index, non-decreasing."""
    import numpy as np
    import pyarrow as pa

    counts = np.bincount(group, minlength=n_groups)
    first = np.cumsum(counts) - counts
    # group ascending, value descending: a group's values stay in its slots
    order = np.lexsort((-values, group))
    keep = np.arange(len(values)) - first[group] < TOP_BLOCK_MAX
    offsets = np.zeros(n_groups + 1, dtype=np.int32)
    np.cumsum(np.minimum(counts, TOP_BLOCK_MAX), out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values[order][keep]))


def _reduce_term_groups(t):
    """Rows of a term_stats-shaped table whose equal terms are adjacent ->
    one row per term, with the combiners of the Spark dictionary merge
    (streaming.ingest._merge_term_stats): df, cf and n_blocks add (null as
    0), weight maxima take the max and block-max minima the min, the top
    lists concatenate and keep the largest TOP_BLOCK_MAX, and
    postings_bytes adds unless a row's is null (an unknown footprint), which
    makes the term's total null."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not t.num_rows:
        return t
    starts, terms = term_runs(t.column("term").combine_chunks())
    n_groups = len(starts)

    def col(name):
        return t.column(name).combine_chunks()

    def add(name):
        return pa.array(np.add.reduceat(pc.fill_null(col(name), 0).to_numpy(), starts))

    def extreme(ufunc, name):
        return pa.array(ufunc.reduceat(col(name).to_numpy(), starts))

    def top(name):
        lists = col(name)
        lens = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
        row_group = np.repeat(np.arange(n_groups), np.diff(np.append(starts, t.num_rows)))
        values = pc.list_flatten(lists).to_numpy()
        return _top_lists(values, np.repeat(row_group, lens), n_groups)

    known = pc.is_valid(col("postings_bytes")).to_numpy(zero_copy_only=False)
    postings_bytes = pa.array(
        np.add.reduceat(pc.fill_null(col("postings_bytes"), 0).to_numpy(), starts),
        mask=~np.logical_and.reduceat(known, starts),
    )
    return pa.table(
        [
            terms,
            add("df"),
            add("cf"),
            extreme(np.maximum, "max_wdt_bm25"),
            extreme(np.maximum, "max_wdt_tfidf_norm"),
            top("top_block_max_bm25"),
            extreme(np.minimum, "min_block_max_bm25"),
            top("top_block_max_tfidf_norm"),
            extreme(np.minimum, "min_block_max_tfidf_norm"),
            add("n_blocks"),
            postings_bytes,
        ],
        schema=_term_stats_schema(),
    )


def block_summary(seg):
    """One partition's segment rows (block_batch output) -> its term_stats
    rows, one per term run: each block is a one-block dictionary row (df =
    n_postings, cf = sum_tf, its maxima as the top and min block maxima,
    postings_bytes = its blob length), reduced per term.  A term striped
    over several partitions has a row in each partition's summary; the
    driver merges them (_merge_term_stats_tables)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = seg.num_rows
    one_each = pa.array(np.arange(n + 1, dtype=np.int32))
    bm, ti = seg.column("max_wdt_bm25"), seg.column("max_wdt_tfidf_norm")
    rows = pa.table(
        [
            seg.column("term"),
            seg.column("n_postings").cast(pa.int64()),
            seg.column("sum_tf"),
            bm,
            ti,
            pa.ListArray.from_arrays(one_each, bm),
            bm,
            pa.ListArray.from_arrays(one_each, ti),
            ti,
            pa.array(np.ones(n, dtype=np.int64)),
            pc.binary_length(seg.column("postings_bin")).cast(pa.int64()),
        ],
        schema=_term_stats_schema(),
    )
    return _reduce_term_groups(rows)


def _merge_term_stats_tables(tables):
    """Merge term_stats-shaped Arrow tables — per-partition block summaries,
    and an existing dictionary with the summaries of a delta — into one
    term-sorted dictionary (a term may have a row in every input).  A table
    read from a dictionary written before the postings_bytes column existed
    merges as an unknown (null) footprint."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = _term_stats_schema()
    parts = []
    for t in tables:
        if "postings_bytes" not in t.column_names:
            t = t.append_column("postings_bytes", pa.nulls(t.num_rows, pa.int64()))
        parts.append(t.select(list(TERM_STATS_FIELDS)).cast(schema))
    t = pa.concat_tables(parts) if parts else schema.empty_table()
    return _reduce_term_groups(t.take(pc.sort_indices(t, [("term", "ascending")])))


@engine_kernel
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


@engine_kernel
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
