"""The postings producer: map-side SPIMI for bulk builds and streaming epochs.

Built around one observation the reference's SPIMI also exploits
(engine/indexing/spimi.py:56-187): **every document is a single input row,
so a document's complete (term, doc) posting groups — tf, sorted positions,
doc_len, L_d — are partition-local to the tokenize pass.**  The one
tokenize kernel (_fused_tokenize_group_kernel) therefore emits FINISHED
postings map-side, and every build and epoch shuffles per-POSTING rows
instead of per-token rows:

  * doc weights: never broadcast, never joined, never duplicated per token —
    L_d and doc_len reduce locally inside the tokenize kernel and ride each
    posting row, so the sink computes both weights per partition
    (build._doc_weights via build._raw_partition);
  * stemming: folded into the same kernel over each partition's DISTINCT
    types (a cross-batch memo — O(partition vocab), not O(tokens)), so the
    rows already carry final term strings;
  * ONE collect (_collect_vocab): each term's token total, limit-guarded at
    VOCAB_ENCODE_MAX terms.  Its null-term group sums the stats rows'
    doc_len, which is the corpus total;
  * partition plan (plan_route): contiguous ~equal-token term ranges, hot
    terms striped across ceil(tokens/target) partitions by doc_id % ksplit
    — the explicit skew defusal.  Up to VOCAB_ENCODE_MAX terms the driver
    plans it from the collect (build._route_plan) and the rows join it as a
    broadcast (term, base, ksplit) frame.  Above, the plan is assigned
    distributively: a vocab-sized map-side-combined groupBy, range-partition
    + sort, per-partition token offsets (one tiny collect of 1
    long/partition), zero-shuffle enumeration (the assign_doc_ids trick
    applied to the dictionary).  Posting mass is Zipfian, so the HOT slice
    of that plan (the top HOT_TERMS_K terms) broadcasts and joins map-side
    while only the bounded cold tail (every cold term's count <= the K-th
    hot count) pays a shuffle join;
  * ONE planned route shuffle (route_rows), routed through
    murmur3-representative values (an exact driver-planned partitioner, no
    range-sampling job), sorted (term, doc_id) within partitions;
  * the shared postings+segments sink (build._write_postings_segments): one
    pass over the routed partitions writes postings and side-writes
    segments plus per-partition term summaries, which the driver merges
    into the dictionary below VOCAB_ENCODE_MAX terms.

The streaming epoch runs the same kernel, collect and route and writes the
routed rows as its raw delta; the full compaction routes its raw deltas
through a plan of the same kind, so its block cuts depend only on the
epochs.

Shuffle inventory over the corpus: ONE map-side-combined aggregation
(vocab-sized output), ONE planned route shuffle of per-posting rows (~half
the rows of a token shuffle, no per-token weight duplication), consumed
once by the fused sink (the two-pass sink persists it for a second pass);
above the cutoff also the plan's vocab-sized shuffles and the cold-tail
join.

Reference parity: the gates and tests/test_dist_build.py pin the
artifacts and semantics (engine/indexing/spimi.py:56-298 for the SPIMI
contract), under both plans.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..worker import engine_kernel
from . import build as B

# the tokenize kernel's rows: finished postings (term != null) + one stats
# pseudo-row per doc (term null, tf 0), each with its doc's doc_len and L_d
# — the doc weight inputs the sink reads off the rows (_raw_partition)
GROUPED_SCHEMA = (
    "doc_id long, term string, tf int, positions array<int>, doc_len int, l2_weight double"
)
DICT_SCHEMA = "term string, tokens long, base int, ksplit int"

# hot slice of the distributed partition plan that joins map-side
# (broadcast): ~64k terms of a Zipfian vocabulary carry the large majority
# of postings, and every COLD term's posting count is bounded by the K-th
# hot count — the shuffle join that remains is skew-free by construction
HOT_TERMS_K = 65_536
# dictionary-shuffle sizing: one reduce partition per ~2M distinct terms
TERMS_PER_DICT_PARTITION = 2_000_000


class _StemMemo:
    """A partition's Porter2 stemmer over its DISTINCT types, shared across
    its batches — O(partition vocab) stem calls, not O(tokens).
    ``sids(types)`` maps a batch's type column to partition-local stem ids
    (types with equal stems share one id); ``stems[sid]`` is that stem."""

    def __init__(self):
        self.type2sid: dict = {}
        self.stem2sid: dict = {}
        self.stems: list = []

    def sids(self, types):
        import numpy as np
        import pandas as pd

        from searchengine_spark.text.porter2 import stem

        codes, uniques = pd.factorize(types, sort=False)
        sid_for_unique = np.empty(len(uniques), dtype=np.int64)
        for i, t in enumerate(uniques):
            sid = self.type2sid.get(t)
            if sid is None:
                s = stem(t)
                sid = self.stem2sid.setdefault(s, len(self.stems))
                if sid == len(self.stems):
                    self.stems.append(s)
                self.type2sid[t] = sid
            sid_for_unique[i] = sid
        return sid_for_unique[codes]


def _doc_l2(w, gdoc, dstarts):
    """L_d of each doc from its per-term weights ``w`` = (1+ln tf)², one per
    (doc, term) group, with the groups' docs ``gdoc`` sorted and each doc's
    run starting at ``dstarts``.  A doc's weights are summed in ascending
    order, not in the partition-local stem-id order they arrive in: a doc's
    L_d must not depend on which docs share its batch (the first-seen stem
    ids do), or doc_stats and tf-idf weights would change with the
    partition count."""
    import numpy as np

    return np.sqrt(np.add.reduceat(w[np.lexsort((w, gdoc))], dstarts))


def _fused_tokenize_group_kernel(text_col: str, id_col: str):
    """(doc_id, text) batches -> FINISHED posting rows (term, doc_id, tf,
    sorted positions, doc_len, L_d) plus one stats pseudo-row (term = null,
    tf = 0, doc_len, L_d) per non-empty doc.

    The map-side SPIMI step (module docstring) and the only tokenize
    kernel.  It composes the T1-T3 Arrow kernel (spark_tokenize._types_kernel
    — exact split/hyphen/cleaning semantics, asserted against the
    expression twin) with partition-local grouping: each doc is one input
    row, so (stem, doc) groups complete inside the batch — tf, positions,
    doc_len and L_d (spimi.py:74-123; the empty term counts toward both)
    all reduce locally, and positions sort ascending inside each group.
    Stemming (T4) runs here, over the partition's DISTINCT types
    (_StemMemo), so nothing downstream stems again.

    Empty types count toward doc_len/L_d and are then dropped (their stem
    is the empty string, spimi.py:137); types whose STEM is empty drop the
    same way — the index excludes the empty term."""

    from ..text.spark_tokenize import _types_kernel

    inner = _types_kernel(text_col, id_col)

    @engine_kernel
    def fn(iterator):
        import numpy as np
        import pandas as pd

        memo = _StemMemo()
        for pdf in inner(iterator):
            if not len(pdf):
                continue
            sids = memo.sids(pdf["type"])
            docs_np = pdf[id_col].to_numpy(dtype=np.int64)
            pos_np = pdf["position"].to_numpy(dtype=np.int32)
            # primary doc, then stem, then position: groups are (doc, sid)
            # runs with ascending positions inside each run
            order = np.lexsort((pos_np, sids, docs_np))
            d_s, s_s, p_s = docs_np[order], sids[order], pos_np[order]
            n = len(d_s)
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (d_s[1:] != d_s[:-1]) | (s_s[1:] != s_s[:-1])
            starts = np.flatnonzero(change)
            tf = np.diff(np.append(starts, n)).astype(np.int64)
            gdoc = d_s[starts]
            gsid = s_s[starts]
            dchange = np.empty(len(gdoc), dtype=bool)
            dchange[0] = True
            dchange[1:] = gdoc[1:] != gdoc[:-1]
            dstarts = np.flatnonzero(dchange)
            udoc = gdoc[dstarts]
            doc_len = np.add.reduceat(tf, dstarts)
            l2 = _doc_l2(np.square(1.0 + np.log(tf.astype(np.float64))), gdoc, dstarts)
            gdi = np.searchsorted(udoc, gdoc)  # group -> its doc's stats
            gstem = np.asarray(memo.stems, dtype=object)[gsid]
            keep = gstem != ""
            kept = np.flatnonzero(keep)
            pos_groups = np.split(p_s, starts[1:])
            n_doc = len(udoc)
            # posting rows, then the stats rows, built column by column (a
            # pd.concat of all-null frame columns is deprecated dtype
            # inference)
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate([gdoc[keep], udoc]),
                    "term": np.concatenate([gstem[keep], np.full(n_doc, None, dtype=object)]),
                    "tf": np.concatenate(
                        [tf[keep].astype(np.int32), np.zeros(n_doc, dtype=np.int32)]
                    ),
                    "positions": [pos_groups[i] for i in kept] + [None] * n_doc,
                    "doc_len": np.concatenate([doc_len[gdi[keep]], doc_len]).astype(np.int32),
                    "l2_weight": np.concatenate([l2[gdi[keep]], l2]),
                }
            )

    return fn


def _dict_enum_kernel(tok_offsets: dict, target: int):
    """Zero-shuffle plan enumeration over the range-partitioned sorted term
    frame: the partition plan derives from the global token cumsum the
    per-partition offsets provide — base = cum_before // target (contiguous
    ~target-token term ranges), ksplit = ceil(tokens / target) (hot terms
    stripe across dedicated partitions by doc_id % ksplit — the explicit
    skew defusal).  Stripe ranges of consecutive terms stay contiguous, so
    every route partition holds a contiguous term range and parquet min/max
    pruning survives."""

    @engine_kernel
    def fn(iterator):
        import numpy as np
        import pandas as pd

        seen_toks = 0
        pid = None
        for pdf in iterator:
            if not len(pdf):
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            toks = pdf["tokens"].to_numpy(dtype=np.int64)
            cum_before = tok_offsets[pid] + seen_toks + (np.cumsum(toks) - toks)
            yield pd.DataFrame(
                {
                    "term": pdf["term"].to_numpy(),
                    "tokens": toks,
                    "base": (cum_before // target).astype(np.int32),
                    "ksplit": (-(-toks // target)).astype(np.int32),
                }
            )
            seen_toks += int(toks.sum())

    return fn


def _assign_plan(terms: DataFrame, target: int, width: int):
    """Distributed partition plan over the sorted vocabulary ``terms``
    (term, tokens) for a per-partition token ``target``.  Returns the plan
    DataFrame (term, tokens, base, ksplit), persisted but not yet computed;
    the persisted range-partitioned vocabulary it is computed from (keep it
    until the plan is computed: its offsets hold only for this range cut);
    and the plan's width, max(base + ksplit)."""
    k = max(1, width)
    ranged = (
        terms.repartitionByRange(k, "term")
        .sortWithinPartitions("term")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    pstats = sorted(
        ranged.groupBy("_pid")
        .agg(F.sum("tokens").alias("t"), F.max_by("tokens", "term").alias("last"))
        .collect(),
        key=lambda r: r["_pid"],
    )
    tok_offsets: dict[int, int] = {}
    acc_tok = 0
    for row in pstats:
        tok_offsets[row["_pid"]] = acc_tok
        acc_tok += int(row["t"])
    plan = ranged.mapInPandas(
        _dict_enum_kernel(tok_offsets, target), schema=DICT_SCHEMA
    ).persist()
    # base + ksplit never decreases along the sorted terms (a term's
    # floor(C/T) + ceil(c/T) is at most floor((C + c)/T) + 1, the next
    # term's base plus its ksplit of at least 1), so the width is the last
    # term's: from the total and the last term's own tokens
    last = int(pstats[-1]["last"]) if pstats else 0
    n_parts = (acc_tok - last) // target + -(-last // target)
    return plan, ranged, max(1, n_parts)


def grouped_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> the tokenize kernel's rows (GROUPED_SCHEMA),
    persisted: the token-total collect, the stats rows and the route
    shuffle all read this one pass."""
    return (
        docs.select("doc_id", "text")
        .mapInPandas(_fused_tokenize_group_kernel("text", "doc_id"), schema=GROUPED_SCHEMA)
        .persist()
    )


def grouped_tokens() -> Column:
    """A grouped row's share of its term's token total: tf for a posting
    row, doc_len for a stats row, so the null-term group sums to the corpus
    total."""
    return F.when(F.col("term").isNull(), F.col("doc_len")).otherwise(F.col("tf"))


def doc_stats_frame(docs: DataFrame, grouped: DataFrame, meta_cols) -> DataFrame:
    """The doc_stats rows: every doc's metadata joined to its stats row
    (docs without tokens get doc_len 0 and a null l2_weight)."""
    stats = grouped.filter(F.col("term").isNull()).select(
        "doc_id", F.col("doc_len").cast("long").alias("doc_len"), "l2_weight"
    )
    return docs.select("doc_id", *meta_cols).join(stats, "doc_id", "left").fillna({"doc_len": 0})


def _collect_vocab(totals: DataFrame):
    """THE collect of the route plan: the per-term token ``totals`` (the
    null-term group included) as pandas (term, tokens), or None when there
    are more than VOCAB_ENCODE_MAX terms.  The collect is limit-guarded:
    the aggregation's map side scans every partition (materializing a
    persisted input) regardless of the limit, while the limit caps what can
    reach the driver — an over-cutoff vocabulary is never collected.  (An
    earlier shape ran approx_count_distinct first as the guard: a full
    extra pass over the token stream per build, ~8 s/900k turns at width
    8, pure fixed cost.)"""
    vocab = totals.limit(B.VOCAB_ENCODE_MAX + 2).toPandas()  # Arrow transfer
    if int(vocab["term"].notna().sum()) > B.VOCAB_ENCODE_MAX:
        return None
    return vocab


class RoutePlan(NamedTuple):
    """The partition plan of one route shuffle.  ``join(rows)`` adds each
    row's term plan (base, ksplit), ``n_parts`` is the planned width and
    ``null_tokens`` the token total of the null-term group.  ``release()``
    frees the persisted plan frames."""

    join: Callable[[DataFrame], DataFrame]
    n_parts: int
    null_tokens: int
    release: Callable[[], None]


def plan_route(
    spark: SparkSession, rows: DataFrame, tokens: Column, width: int, n_partitions: int, lap=None
) -> RoutePlan:
    """Plan the route shuffle of ``rows`` over about ``width`` partitions
    from each term's token total (the ``tokens`` summed per term,
    _collect_vocab).  Up to VOCAB_ENCODE_MAX terms the driver plans it
    (build._route_plan) and the rows join it as a broadcast frame; above,
    _dist_plan assigns it in Spark (``n_partitions`` is the session width
    its dictionary pass is sized from).  ``lap`` records the
    ``vocab_collect`` phase, and ``dict_assign`` when the distributed plan
    runs."""
    import numpy as np
    import pandas as pd

    # the plan's actions are vocab-sized aggregations and collects, where
    # AQE has nothing to re-plan (coalescing is pinned off, and the plan
    # joins nothing) but runs every shuffle stage as a job of its own
    # (measured on a 90-turn build: the vocabulary collect 4 jobs with AQE
    # and 1 without, the distributed plan's collects 12 and 4)
    with B.pinned_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        # persisted: an over-cutoff plan aggregates the same totals
        totals = rows.groupBy("term").agg(F.sum(tokens).alias("tokens")).persist()
        vocab = _collect_vocab(totals)
        if lap is not None:
            lap("vocab_collect")
        if vocab is None:
            plan = _dist_plan(spark, totals, width, n_partitions)
            if lap is not None:
                lap("dict_assign")
            return plan
    totals.unpersist()
    named = vocab["term"].notna().to_numpy()
    terms = vocab["term"].to_numpy(dtype=object)[named]
    counts = vocab["tokens"].to_numpy(dtype=np.int64)
    order = np.argsort(terms, kind="stable")
    base, ksplit, n_parts = B._route_plan(counts[named][order], width)
    plan_df = spark.createDataFrame(
        pd.DataFrame({"term": terms[order], "base": base, "ksplit": ksplit}),
        "term string, base int, ksplit int",
    )
    return RoutePlan(
        lambda r: r.join(F.broadcast(plan_df), "term"), n_parts, int(counts[~named].sum()), lambda: None
    )


def _dist_plan(spark: SparkSession, totals: DataFrame, width: int, n_partitions: int) -> RoutePlan:
    """The over-cutoff plan from the persisted per-term token ``totals``
    (released here): a 1-row collect of their count and sums, the
    distributed contiguous-range plan (_assign_plan) and a collect of its
    hot slice.  Rows join the hot slice as a broadcast and the cold tail by
    a shuffle join."""
    named = F.col("term").isNotNull()
    sizes = totals.agg(
        F.count("term").alias("n_terms"),
        F.sum(F.when(named, F.col("tokens"))).alias("route_tokens"),
        F.sum(F.when(~named, F.col("tokens"))).alias("null_tokens"),
    ).collect()[0]
    dict_width = B.pass_width(spark, n_partitions, int(sizes["n_terms"]), TERMS_PER_DICT_PARTITION)
    target = max(1, -(-int(sizes["route_tokens"] or 0) // width))
    plan, ranged, n_parts = _assign_plan(totals.filter(named), target, dict_width)
    # the hot slice reaches the driver (computing the plan, under the
    # caller's AQE-off scope), so both joins broadcast a local frame
    hot = spark.createDataFrame(
        plan.orderBy(F.desc("tokens")).limit(HOT_TERMS_K).select("term", "base", "ksplit").toPandas(),
        "term string, base int, ksplit int",
    )
    ranged.unpersist()
    totals.unpersist()

    def join(r: DataFrame) -> DataFrame:
        cold = r.join(F.broadcast(hot), "term", "left_anti")
        return r.join(F.broadcast(hot), "term").unionByName(
            cold.join(plan.select("term", "base", "ksplit"), "term")
        )

    return RoutePlan(join, n_parts, int(sizes["null_tokens"] or 0), plan.unpersist)


def route_rows(spark: SparkSession, plan: RoutePlan, rows: DataFrame, carry=()) -> DataFrame:
    """The one route shuffle — of the bulk build, the streaming epoch and a
    compaction whose weights ride the rows: rows (term, doc_id, tf,
    positions, *carry) join their term plan, take partition base + doc_id %
    ksplit, and reach it through its murmur3-representative ``_route``
    value, so ``repartition(n_parts, _route)`` places every row on its
    exact planned partition; each partition is then sorted by (term,
    doc_id).  tf and positions leave with the raw postings types
    (RAW_POSTINGS_SCHEMA)."""
    import pandas as pd

    vmap = B._invert_partition_hash(plan.n_parts)
    route_df = spark.createDataFrame(
        pd.DataFrame({"part": range(plan.n_parts), "_route": vmap.astype("int32")}),
        "part int, _route int",
    )
    part = (F.col("base") + F.pmod(F.col("doc_id"), F.col("ksplit"))).cast("int")
    return (
        plan.join(rows)
        .withColumn("part", part)
        .join(F.broadcast(route_df), "part")
        .select("term", "doc_id", "tf", "positions", *carry, "_route")
        .repartition(plan.n_parts, F.col("_route"))
        .drop("_route")
        .sortWithinPartitions("term", "doc_id")
        .select(
            "term",
            "doc_id",
            F.col("tf").cast("long").alias("tf"),
            F.col("positions").cast("array<long>").alias("positions"),
            *carry,
        )
    )


def build_grouped(builder, docs: DataFrame, n_docs: int, resume: bool = False) -> dict:
    """The bulk build (module docstring).  ``builder`` is the IndexBuilder —
    manifest/resume, the postings+segments sink and the _finish tail.  The
    posting rows carry their docs' weight inputs into the sink, so the
    build broadcasts nothing."""
    import threading

    clock = B.PhaseClock()
    lap = clock.lap

    if resume:
        builder._load_manifest()
    spark = builder.spark
    meta_cols = [c for c in ("title", *B.META_COLS) if c in docs.columns]
    set_desc = spark.sparkContext.setJobDescription

    docs = docs.persist()
    grouped = grouped_rows(docs)

    # -- the one collect: every term's token total, and from the null-term
    # group the corpus total — it also materializes the grouped cache
    set_desc("phase:vocab — tokenize pass + per-term token total collect")
    plan = plan_route(spark, grouped, grouped_tokens(), builder._sp_build, builder.n_partitions, lap)
    total_tokens = plan.null_tokens
    avgdl = (total_tokens / n_docs) if n_docs else 0.0

    # -- stats: the kernel's stats rows joined to the docs' metadata; the
    # artifact writes overlap the postings phase in a background thread
    writer: threading.Thread | None = None
    writer_err: list[BaseException] = []
    if not resume or not (builder._stage_done("doc_stats") and builder._stage_done("corpus_stats")):

        def write_stats() -> None:
            try:
                set_desc("phase:stats-write (background) — doc_stats + corpus_stats parquet")
                builder._write_stage(doc_stats_frame(docs, grouped, meta_cols), "doc_stats")
                corpus_df = spark.createDataFrame(
                    [(n_docs, total_tokens, float(avgdl))],
                    "n_docs bigint, total_tokens bigint, avgdl double",
                ).coalesce(1)  # one row: one task, not one per core
                builder._write_stage(corpus_df, "corpus_stats")
            except BaseException as e:  # surfaced after join()
                writer_err.append(e)

        writer = threading.Thread(target=write_stats, daemon=True)
        writer.start()
    lap("stats_collect")

    # -- postings+segments: ONE planned exchange of finished posting rows
    # into the shared sink
    summaries = None
    if not builder._sink_done(resume):
        routed = route_rows(
            spark, plan, grouped.filter(F.col("term").isNotNull()), ("doc_len", "l2_weight")
        )
        summaries = builder._postings_segments(routed, B._raw_partition(avgdl, None, 0))
        lap("postings_segments")
    plan.release()

    if writer is not None:
        writer.join()
        if writer_err:
            raise writer_err[0]
        builder._mark_stage("doc_stats")
        builder._mark_stage("corpus_stats")
        lap("stats_write_join")

    return builder._finish(
        clock=clock,
        docs=docs,
        n_docs=n_docs,
        avgdl=avgdl,
        total_tokens=total_tokens,
        set_desc=set_desc,
        resume=resume,
        fused_cache=grouped,
        summaries=summaries,
    )
