"""Over-cutoff dictionary-encoded build: map-side SPIMI at web scale.

``_build_encoded`` (build.py) collects the type vocabulary to the driver and
broadcasts dense term_ids + doc-weight arrays into the kernels — the right
plan below VOCAB_ENCODE_MAX types / BROADCAST_WEIGHTS_MAX_DOCS docs, and a
non-plan above them (a 10^9-type vocabulary is neither collectable nor
broadcastable).  This module is the over-cutoff path with every driver-side
structure replaced by a distributed equivalent (round-4 verdict, top item),
built around one observation the reference's SPIMI also exploits
(engine/indexing/spimi.py:56-187): **every document is a single input row,
so a document's complete (term, doc) posting groups — tf, sorted positions,
doc_len, L_d — are partition-local to the tokenize pass.**  The fused
kernel therefore emits FINISHED postings map-side, and the whole build
shuffles per-POSTING rows instead of per-token rows:

  * doc weights: never broadcast, never joined, never duplicated per token —
    L_d and doc_len reduce locally inside the tokenize kernel, the
    tfidf weight w_dt = (1+ln tf)/L_d (which needs no global input) is
    FINALIZED map-side, and only doc_len (for BM25, which needs the global
    avgdl) rides each posting row;
  * stemming: folded into the same kernel over each partition's DISTINCT
    types (a cross-batch memo — O(partition vocab), not O(tokens)), so the
    rows already carry final term strings and the dictionary phase needs no
    stem UDF and no type->term join;
  * partition plan: contiguous ~equal-token term ranges from the
    dictionary's global token cumsum (base = cum_before // target), hot
    terms striped across ceil(tokens/target) partitions by doc_id % ksplit
    — the explicit skew defusal — assigned distributively: vocab-sized
    map-side-combined groupBy, range-partition + sort, per-partition token
    offsets (one tiny collect of 1 long/partition), zero-shuffle
    enumeration (the assign_doc_ids trick applied to the dictionary);
  * the plan join: posting mass is Zipfian — the top HOT_TERMS_K terms
    carry most postings — so the HOT slice of the plan (term, base, ksplit)
    broadcasts and joins map-side while only the bounded cold tail (every
    cold term's count <= the K-th hot count) pays a shuffle join: the skew
    that would hot-spot a hash(term) shuffle is exactly the mass that never
    enters it;
  * ONE planned route shuffle of finished posting rows, routed through
    murmur3-representative values (exact driver-planned partitioner, no
    range-sampling job), sorted (term, doc_id) within partitions;
  * the postings write is a PURE JVM projection over the routed cache —
    w_dt(tfidf) arrived finished, and BM25's w_dt is log-free arithmetic on
    (tf, doc_len, avgdl-literal), so the widest write of the build runs
    entirely inside whole-stage codegen with no Python in the loop.

Shuffle inventory over the corpus: ONE map-side-combined aggregation
(vocab-sized output), ONE shuffle join for the cold plan tail only, ONE
planned route shuffle of per-posting rows (~half the rows of a token
shuffle, no per-token weight duplication).  Everything else is vocab-sized
or smaller.

Reference parity: artifacts and semantics identical to build.py's paths
(engine/indexing/spimi.py:56-298 for the SPIMI contract); gates and
tests/test_dist_build.py pin it (content-identical index, rank-identical
queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..worker import engine_kernel
from .logical import BM25_B, BM25_K1

# token rows carry (doc_id, position, type); stats pseudo-rows use
# position = -1 (one per doc, filtered apart by consumers).  Used by the
# ENCODED path (build.py) so its doc stats ride the tokenize pass too.
WEIGHTED_TYPES_SCHEMA = (
    "doc_id long, position int, type string, doc_len int, l2_weight double"
)
# the dist path's cache rows: finished postings (term != null) + one stats
# pseudo-row per doc (term null, tf 0).  ``w`` is w_dt(tfidf) on posting
# rows and L_d on stats rows — the only per-doc scalar each consumer needs.
GROUPED_SCHEMA = (
    "doc_id long, term string, tf int, positions array<int>, doc_len int, w double"
)
DICT_SCHEMA = "term string, tokens long, base int, ksplit int"

# hot slice of the partition plan that joins map-side (broadcast): ~64k
# terms of a Zipfian vocabulary carry the large majority of postings, and
# every COLD term's posting count is bounded by the K-th hot count — the
# shuffle join that remains is skew-free by construction
HOT_TERMS_K = 65_536
# dictionary-shuffle sizing: one reduce partition per ~2M distinct terms
TERMS_PER_DICT_PARTITION = 2_000_000


def _fused_tokenize_stats_kernel(text_col: str, id_col: str):
    """(doc_id, text) batches -> token rows plus one stats pseudo-row
    (position = -1) per non-empty doc — the ENCODED path's tokenize pass,
    where weights reach the kernels by broadcast and doc stats ride the
    tokenize scan for free (they removed a separate stats-kernel pass:
    measured 19.6 s of a 142 s width-4 900k-turn build).

    Composes the T1-T3 Arrow kernel (spark_tokenize._types_kernel — exact
    split/hyphen/cleaning semantics, asserted against the expression twin)
    with partition-local doc stats: each doc is one input row, so its full
    type multiset is present in one output batch and doc_len / L_d
    (spimi.py:74-123 — the empty term counts toward both) reduce locally.
    Stemming for the L_d term-grouping runs over the partition's DISTINCT
    types via a cross-batch memo — O(partition vocab), not O(tokens), the
    same dictionary-normalization cost law as the broadcast path.

    Empty types contribute to the stats and are then DROPPED from the token
    output (the index excludes them, spimi.py:137) — they never reach the
    encode map."""

    from ..text.spark_tokenize import _types_kernel

    inner = _types_kernel(text_col, id_col)

    @engine_kernel
    def fn(iterator):
        import numpy as np
        import pandas as pd

        from searchengine_spark.text.porter2 import stem

        type2sid: dict = {}  # type -> local stem-id (equal stems share an id)
        stem_ids: dict = {}

        for pdf in inner(iterator):
            if not len(pdf):
                continue
            codes, uniques = pd.factorize(pdf["type"], sort=False)
            sid_for_unique = np.empty(len(uniques), dtype=np.int64)
            for i, t in enumerate(uniques):
                sid = type2sid.get(t)
                if sid is None:
                    s = stem(t)
                    sid = stem_ids.setdefault(s, len(stem_ids))
                    type2sid[t] = sid
                sid_for_unique[i] = sid
            sids = sid_for_unique[codes]
            docs_np = pdf[id_col].to_numpy(dtype=np.int64)
            # hyphen expansion groups variants, so rows are NOT doc-sorted:
            # lexsort per batch (docs are complete within a batch)
            order = np.lexsort((sids, docs_np))
            d_s, s_s = docs_np[order], sids[order]
            n = len(d_s)
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (d_s[1:] != d_s[:-1]) | (s_s[1:] != s_s[:-1])
            starts = np.flatnonzero(change)
            tf = np.diff(np.append(starts, n)).astype(np.int64)
            gdoc = d_s[starts]
            dchange = np.empty(len(gdoc), dtype=bool)
            dchange[0] = True
            dchange[1:] = gdoc[1:] != gdoc[:-1]
            dstarts = np.flatnonzero(dchange)
            udoc = gdoc[dstarts]
            doc_len = np.add.reduceat(tf, dstarts)
            w = np.square(1.0 + np.log(tf.astype(np.float64)))
            l2 = np.sqrt(np.add.reduceat(w, dstarts))
            types = pdf["type"].to_numpy()
            keep = types != ""
            # token rows, then the stats rows; each column is built typed
            # (nullable where the other half is null) — a pd.concat of
            # all-null frame columns is deprecated dtype inference
            n_tok, n_doc = int(keep.sum()), len(udoc)
            tok_null = np.ones(n_tok + n_doc, dtype=bool)
            tok_null[n_tok:] = False
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate([docs_np[keep], udoc]),
                    "position": np.concatenate(
                        [
                            pdf["position"].to_numpy(dtype=np.int32)[keep],
                            np.full(n_doc, -1, dtype=np.int32),
                        ]
                    ),
                    "type": np.concatenate([types[keep], np.full(n_doc, None, dtype=object)]),
                    "doc_len": pd.arrays.IntegerArray(
                        np.concatenate([np.zeros(n_tok, np.int32), doc_len.astype(np.int32)]),
                        tok_null,
                    ),
                    "l2_weight": pd.arrays.FloatingArray(
                        np.concatenate([np.zeros(n_tok), l2]), tok_null
                    ),
                }
            )

    return fn


def _fused_tokenize_group_kernel(text_col: str, id_col: str):
    """(doc_id, text) batches -> FINISHED posting rows (term, doc_id, tf,
    sorted positions, doc_len, w_dt(tfidf)) plus one stats pseudo-row
    (term = null, tf = 0, doc_len, L_d) per non-empty doc.

    The map-side SPIMI step (module docstring): each doc is one input row,
    so (stem, doc) groups complete inside the batch — tf, positions,
    doc_len, and L_d all reduce locally, and w_dt(tfidf) = (1+ln tf)/L_d
    needs nothing global.  Grouping/stats identical to
    ``_fused_tokenize_stats_kernel`` (same sid memo, same lexsort group
    order, same reduceat order — bit-identical L_d to the encoded path);
    positions additionally sort ascending inside each group, which is the
    order the route-shuffle sort used to impose.

    Empty types count toward doc_len/L_d and are then dropped (their stem
    is the empty string, spimi.py:137); types whose STEM is empty drop the
    same way — exactly the term != '' dictionary filter of the other
    paths."""

    from ..text.spark_tokenize import _types_kernel

    inner = _types_kernel(text_col, id_col)

    @engine_kernel
    def fn(iterator):
        import numpy as np
        import pandas as pd

        from searchengine_spark.text.porter2 import stem

        type2sid: dict = {}
        stem_ids: dict = {}
        sid2stem: list = []

        for pdf in inner(iterator):
            if not len(pdf):
                continue
            codes, uniques = pd.factorize(pdf["type"], sort=False)
            sid_for_unique = np.empty(len(uniques), dtype=np.int64)
            for i, t in enumerate(uniques):
                sid = type2sid.get(t)
                if sid is None:
                    s = stem(t)
                    sid = stem_ids.setdefault(s, len(stem_ids))
                    if sid == len(sid2stem):
                        sid2stem.append(s)
                    type2sid[t] = sid
                sid_for_unique[i] = sid
            sids = sid_for_unique[codes]
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
            tf_f = tf.astype(np.float64)
            w = np.square(1.0 + np.log(tf_f))
            l2 = np.sqrt(np.add.reduceat(w, dstarts))
            gdi = np.searchsorted(udoc, gdoc)  # group -> its doc's stats
            gstem = np.asarray(sid2stem, dtype=object)[gsid]
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
                    "w": np.concatenate([(1.0 + np.log(tf_f[keep])) / l2[gdi[keep]], l2]),
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
    """Distributed partition plan over the sorted vocabulary.  Returns the
    plan DataFrame (term, tokens, base, ksplit), persisted."""
    k = max(1, width)
    ranged = (
        terms.repartitionByRange(k, "term")
        .sortWithinPartitions("term")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    pstats = ranged.groupBy("_pid").agg(F.sum("tokens").alias("t")).collect()
    tok_offsets: dict[int, int] = {}
    acc_tok = 0
    for row in sorted(pstats, key=lambda r: r["_pid"]):
        tok_offsets[row["_pid"]] = acc_tok
        acc_tok += int(row["t"])
    plan = ranged.mapInPandas(
        _dict_enum_kernel(tok_offsets, target), schema=DICT_SCHEMA
    ).persist()
    return plan, ranged


def _segments_kernel_dist(avgdl: float):
    """mapInArrow block-max segment encoder over the sorted routed
    partitions (see build._segments_kernel_packed for the layout contract):
    rows arrive as finished postings sorted (term, doc_id), so the kernel
    only cuts each term's run into BLOCK_SIZE blocks and encodes them in one
    segments.block_batch pass — no regrouping, no per-block Python.  BM25
    weights recomputed with the same expression shape as the postings
    projection so block maxima match the postings values."""

    @engine_kernel
    def fn(batches):
        import numpy as np
        import pyarrow as pa

        from searchengine_spark.indexing.segments import block_batch, term_runs

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return

        def col(name):
            return pa.concat_arrays([b.column(name) for b in batches])

        tf = col("tf").to_numpy().astype(np.int64)
        tf_f = tf.astype(np.float64)
        dl = col("doc_len").to_numpy().astype(np.float64)
        w_bm = ((BM25_K1 + 1.0) * tf_f) / (
            BM25_K1 * ((1.0 - BM25_B) + BM25_B * (dl / avgdl)) + tf_f
        )
        run_starts, run_terms = term_runs(col("term"))
        yield block_batch(
            run_starts,
            run_terms,
            col("doc_id").to_numpy(),
            tf,
            w_bm,
            col("w").to_numpy(),
            col("positions").flatten().to_numpy(),
        )

    return fn


def build_encoded_dist(builder, docs: DataFrame, n_docs: int, resume: bool = False) -> dict:
    """Orchestrate the distributed map-side SPIMI build (module docstring).
    ``builder`` is the IndexBuilder — manifest/resume/_finish are shared
    with the in-memory paths so artifacts, metrics, and the
    segments/term_stats tail are byte-for-byte the same machinery."""
    import threading

    from . import build as B

    clock = B.PhaseClock()
    lap = clock.lap

    if resume:
        builder._load_manifest()
    spark = builder.spark
    meta_cols = [c for c in ("title", *B.META_COLS) if c in docs.columns]
    set_desc = spark.sparkContext.setJobDescription

    docs = docs.persist()
    grouped = (
        docs.select("doc_id", "text")
        .mapInPandas(
            _fused_tokenize_group_kernel("text", "doc_id"), schema=GROUPED_SCHEMA
        )
        .persist()
    )
    postings_rows = grouped.filter(F.col("term").isNotNull())

    # -- stats: pseudo-rows from the fused kernel (zero shuffle), ONE 1-row
    # collect for corpus stats + avgdl; artifact writes overlap the
    # dictionary/postings phases in a background thread.
    stats_done = builder._stage_done("doc_stats") and builder._stage_done("corpus_stats")
    fresh_stats = not stats_done or not resume
    if fresh_stats:
        stats_df = grouped.filter(F.col("term").isNull()).select(
            "doc_id",
            F.col("doc_len").cast("long").alias("doc_len"),
            F.col("w").alias("l2_weight"),
        )
    else:
        stats_df = (
            builder._read_stage("doc_stats")
            .select("doc_id", "doc_len", "l2_weight")
            .filter(F.col("doc_len") > 0)
        )
    set_desc("phase:stats — fused-kernel materialize + 1-row corpus collect")
    srow = stats_df.agg(F.sum("doc_len").alias("total")).collect()[0]
    total_tokens = int(srow["total"] or 0)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    lap("stats_collect")

    writer: threading.Thread | None = None
    writer_err: list[BaseException] = []
    if fresh_stats:

        def write_stats() -> None:
            try:
                set_desc("phase:stats-write (background) — doc_stats + corpus_stats parquet")
                full = (
                    docs.select("doc_id", *meta_cols)
                    .join(stats_df, "doc_id", "left")
                    .fillna({"doc_len": 0})
                )
                builder._write_stage(full, "doc_stats")
                corpus_df = spark.createDataFrame(
                    [(n_docs, total_tokens, float(avgdl))],
                    "n_docs bigint, total_tokens bigint, avgdl double",
                )
                builder._write_stage(corpus_df, "corpus_stats")
            except BaseException as e:  # surfaced after join()
                writer_err.append(e)

        writer = threading.Thread(target=write_stats, daemon=True)
        writer.start()

    routed_cache = None
    seg_kernel = None
    postings_partitions = max(
        getattr(builder, "_sp_build", builder.n_partitions),
        -(-n_docs // B.DOCS_PER_POSTINGS_PARTITION) if n_docs else 1,
    )
    if not builder._stage_done("postings") or not resume:
        # -- plan: one map-side-combined aggregation over the posting rows
        # (vocab-sized output — rows already carry final stems, no UDF),
        # then the distributed contiguous-range plan.
        set_desc("phase:dict — vocab aggregation + distributed partition plan")
        terms = (
            postings_rows.groupBy("term").agg(F.sum("tf").alias("tokens")).persist()
        )
        vrow = terms.agg(
            F.count("*").alias("n_terms"), F.sum("tokens").alias("tok_total")
        ).collect()[0]
        n_terms = int(vrow["n_terms"] or 0)
        total_route_tokens = int(vrow["tok_total"] or 0)
        dict_width = max(
            builder.n_partitions, -(-n_terms // TERMS_PER_DICT_PARTITION) if n_terms else 1
        )
        # route-shuffle sizing: same data law as the in-memory paths
        target_tokens = max(1, -(-total_route_tokens // postings_partitions))
        plan, ranged = _assign_plan(terms, target_tokens, dict_width)
        prow = plan.agg(F.max(F.col("base") + F.col("ksplit")).alias("p")).collect()[0]
        n_parts = max(1, int(prow["p"] or 1))
        ranged.unpersist()
        terms.unpersist()
        lap("dict_assign")

        # -- route: hot slice of the plan broadcast (map-side, carries the
        # skewed mass), cold tail via shuffle join (counts bounded by the
        # K-th hot count — skew-free), then ONE planned exchange of
        # finished posting rows.
        set_desc("phase:postings — hot/cold plan join + planned route shuffle")
        hot_plan = plan.orderBy(F.desc("tokens")).limit(HOT_TERMS_K).select(
            "term", "base", "ksplit"
        )
        routed_hot = postings_rows.join(F.broadcast(hot_plan), "term")
        routed_cold = postings_rows.join(
            F.broadcast(hot_plan.select("term")), "term", "left_anti"
        ).join(plan.select("term", "base", "ksplit"), "term")
        enc = routed_hot.unionByName(routed_cold)

        import pandas as pd

        vmap = B._invert_partition_hash(n_parts)
        route_df = spark.createDataFrame(
            pd.DataFrame({"part": range(n_parts), "_route": vmap.astype("int32")}),
            "part int, _route int",
        )
        part = (F.col("base") + F.pmod(F.col("doc_id"), F.col("ksplit"))).cast("int")
        routed_cache = (
            enc.withColumn("part", part)
            .join(F.broadcast(route_df), "part")
            .select("term", "doc_id", "tf", "positions", "doc_len", "w", "_route")
            .repartition(n_parts, F.col("_route"))
            .drop("_route")
            .sortWithinPartitions("term", "doc_id")
            .persist()
        )
        # postings write: pure JVM projection (module docstring) — BM25 is
        # log-free arithmetic with avgdl as a literal; the expression shape
        # matches the segment kernel's numpy recompute term-for-term.
        # (Running this write concurrently with the segments kernel was
        # measured WORSE on pinned cores — two streaming consumers thrash
        # DRAM bandwidth — so the tail stays serial here.)
        tf_d = F.col("tf").cast("double")
        wdt_bm25 = ((BM25_K1 + 1.0) * tf_d) / (
            BM25_K1
            * ((1.0 - BM25_B) + BM25_B * (F.col("doc_len").cast("double") / F.lit(avgdl)))
            + tf_d
        )
        builder._write_stage(
            routed_cache.select(
                "term",
                "doc_id",
                F.col("tf").cast("long").alias("tf"),
                F.col("positions").cast("array<long>").alias("positions"),
                wdt_bm25.alias("wdt_bm25"),
                F.col("w").alias("wdt_tfidf_norm"),
            ),
            "postings",
        )
        builder._mark_stage("postings")
        plan.unpersist()
        lap("postings")
        seg_kernel = _segments_kernel_dist(avgdl)
        postings_partitions = n_parts

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
        postings_cache=None,
        weights_bc=None,
        postings_partitions=postings_partitions,
        set_desc=set_desc,
        resume=resume,
        types_cache=grouped,
        packed_cache=routed_cache,
        seg_kernel=seg_kernel,
    )
