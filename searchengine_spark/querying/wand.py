"""Block-max WAND top-k pruning over compressed segments (SURVEY.md §2 K6,
§7 Phase 4; north rule).

Distributed batch adaptation of Block-Max WAND (Ding & Suel, SIGIR 2011):
instead of a document-at-a-time cursor walk (meaningless across executors),
pruning happens at *block* granularity in two passes over the segment
metadata, and only surviving blocks are varbyte-decoded.

For query terms t with weights wqt_t, every block B of term t has upper bound

    ub(B) = wqt_t * max_wdt(B) + sum_{t' != t} wqt_{t'} * gmax(t')

where gmax(t') is t's global max_wdt from term_stats.  For ANY doc d in B,
score(d) <= ub(B).  Hence if every block containing d is pruned
(ub < theta for a valid lower bound theta on the k-th best score), d cannot
be in the top-k — pruning is *sound*; and any doc with a surviving block is
fully re-scored from the uncompressed postings (so partial scores can never
demote a true top-k doc).

Passes (all heavy work executor-side; the only driver traffic is two tiny
collects of numeric rows — never postings blobs):
  1. seed cutoff: collect the top-64 (ub, n_postings) METADATA rows (two
     numbers per block), choose the smallest ub cutoff whose blocks cover
     >= oversample * k postings;
  2. theta: decode blocks with ub >= cutoff distributedly (vectorized numpy
     kernel in mapInArrow), exact-score those docs with the standard ranked
     plan restricted by a doc_id semi-join, and collect just the top-k
     (doc_id, score) rows — theta = the k-th score;
  3. prune: keep blocks with ub >= theta (minus one quantization step when
     round_scores is set — a doc whose exact score is just below theta can
     still round into a tie with the k-th rounded score, and the exhaustive
     plan's doc_id tie-break could then prefer it); decode survivors'
     doc_ids; exact-score; top-k.  The result is returned as a LAZY
     DataFrame — no collect-and-recreate.

Soundness of pass 3 without re-adding the seed docs: theta is the k-th best
score of a *subset* of docs, so theta <= the true k-th best score; any true
top-k doc d has score(d) >= theta, and every block containing d has
ub >= score(d) >= theta — all of d's blocks survive the cut.

At 100 TB the win is that pass 3 reads only (term, max_wdt, postings_bin) for
the pruned-in fraction of blocks — the segment scan is metadata-cheap and the
expensive decode+score is skipped for the long tail of low-impact blocks.

The result is rank-identical to the exhaustive plan (tested), because
pruning only ever discards provably sub-threshold docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..indexing.build import bm25_wqt, tfidf_wqt
from ..indexing.index import SparkIndex
from ..text import preprocess_ranked_query
from ..worker import engine_kernel
from .ranked import score_docs, term_case, top_k

_DOCIDS_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])


@engine_kernel
def _decode_doc_ids(batches):
    """postings_bin blobs -> one doc_id batch per input batch."""
    import numpy as np
    import pyarrow as pa

    from searchengine_spark.indexing.codec import decode_block

    for batch in batches:
        if not batch.num_rows:
            continue
        ids = [decode_block(blob)[0] for blob in batch.column("postings_bin").to_pylist()]
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(ids).astype(np.int64))], names=["doc_id"]
        )


def ranked_search_wand(
    index: SparkIndex,
    raw_query: str,
    mode: str = "bm25",
    k: int = 10,
    oversample: int = 4,
    round_scores: int | None = None,
    stats: dict | None = None,
    theta_mode: str = "metadata",
    min_blocks_to_prune: int = 4096,
) -> DataFrame:
    """Block-max-pruned top-k; rank-identical to ranked_search (same scores,
    same tie-break by ascending doc_id).

    theta_mode:
      * "metadata" (default): theta from block metadata alone — every block
        max is ATTAINED by some doc, and blocks of one term hold disjoint
        docs, so the k-th largest wqt_t * max_wdt(B) among term t's blocks
        lower-bounds the true k-th best score.  One tiny driver collect
        (|terms| rows), then a single lazy prune+decode+score plan: total
        overhead over the exhaustive plan is one metadata aggregation.
      * "seeded": decode the highest-ub blocks covering oversample*k
        postings and exact-score them for a tighter theta — an extra
        distributed scoring pass; worth it only when block maxima are skewed
        enough that tighter pruning pays for the second job.  This mode
        re-derives the block ub plan per pass (segment metadata is rescanned
        up to three times) — it is a diagnostic/occasional mode; persist
        index.segments externally before using it hot.

    Pass a dict as ``stats`` to get block/byte pruning counters filled in
    (costs two extra metadata aggregations — diagnostics, not the hot
    path)."""
    assert mode in ("bm25", "tfidf")
    terms = preprocess_ranked_query(raw_query)
    empty = index.spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty

    stats_rows = index.term_stats_for(list(set(terms)))
    wqt_fn = bm25_wqt if mode == "bm25" else tfidf_wqt
    weights: dict[str, float] = {}
    for t in terms:
        if t in stats_rows:
            weights[t] = weights.get(t, 0.0) + wqt_fn(index.n_docs, stats_rows[t]["df"])
    if not weights:
        return empty

    max_col = "max_wdt_bm25" if mode == "bm25" else "max_wdt_tfidf_norm"
    wdt_col = "wdt_bm25" if mode == "bm25" else "wdt_tfidf_norm"
    gmax = {t: weights[t] * float(stats_rows[t][max_col]) for t in weights}
    gmax_total = sum(gmax.values())

    # per-block upper bound: own term uses the block max, others their global
    # max — ub = wqt_t*max_wdt(B) + (gmax_total - gmax_t)
    blocks = index.segments.filter(F.col("term").isin(list(weights)))
    rest = {t: gmax_total - gmax[t] for t in weights}
    blocks = blocks.withColumn("ub", term_case(weights) * F.col(max_col) + term_case(rest))

    cutoff = None
    min_ub = None
    term_meta: dict[str, dict] | None = None
    top_col = "top_block_max_bm25" if mode == "bm25" else "top_block_max_tfidf_norm"
    min_col = "min_block_max_bm25" if mode == "bm25" else "min_block_max_tfidf_norm"
    dict_has_blockmeta = all(
        stats_rows[t].get(min_col) is not None and stats_rows[t].get("n_blocks") is not None
        for t in weights
    )
    if theta_mode == "metadata" and dict_has_blockmeta:
        # ZERO extra jobs: the persisted dictionary carries per-term block
        # tops (build.py term_stats stage), already collected by
        # term_stats_for above.
        term_meta = {
            t: {
                "tops": [float(v) for v in (stats_rows[t][top_col] or [])],
                "n_blocks": int(stats_rows[t]["n_blocks"]),
                "min_max": float(stats_rows[t][min_col]),
                # per-term compressed footprint (dictionaries built after
                # the postings_bytes column): lets the amortization gate
                # below reason in actual bytes instead of the block-count
                # proxy.  None on older dictionaries.
                "bytes": (
                    int(stats_rows[t]["postings_bytes"])
                    if stats_rows[t].get("postings_bytes") is not None
                    else None
                ),
            }
            for t in weights
        }
    elif theta_mode == "metadata":
        # in-session index without block metadata: ONE tiny per-term
        # aggregate collect over segment metadata (no blobs).  Tops are
        # collected UNCAPPED per term (n_blocks strings of one term — small
        # for any realistic query) so the selectivity gate below sees the
        # full distribution exactly like the dictionary path.
        per_term = (
            blocks.groupBy("term")
            .agg(
                F.sort_array(F.collect_list(F.col(max_col)), asc=False).alias("tops"),
                F.count("*").alias("n_blocks"),
                F.min(F.col(max_col)).alias("min_max_wdt"),
            )
            .collect()
        )
        if not per_term:
            return empty
        term_meta = {
            r["term"]: {
                "tops": [float(v) for v in r["tops"]],
                "n_blocks": int(r["n_blocks"]),
                "min_max": float(r["min_max_wdt"]),
                # this path reads segment METADATA only (no blob column);
                # summing blob lengths would force a blob scan, so the
                # amortization gate keeps the block-count proxy here
                "bytes": None,
            }
            for r in per_term
        }
    if term_meta is not None:
        # theta = max_t wqt_t * (k-th largest block max of t) — valid
        # because block maxima of one term are attained by disjoint docs;
        # min_ub decides whether pruning can fire at all.
        theta = float("-inf")
        min_ub = float("inf")
        for t in weights:
            if t not in term_meta:
                continue
            m = term_meta[t]
            if m["n_blocks"] >= k and len(m["tops"]) >= k:
                theta = max(theta, weights[t] * m["tops"][k - 1])
            min_ub = min(min_ub, weights[t] * m["min_max"] + (gmax_total - gmax[t]))
    else:
        # pass 1 (driver sees metadata only): ub cutoff covering
        # >= oversample*k postings.  TakeOrderedAndProject over two numeric
        # columns — no blobs.
        target = oversample * k
        meta = blocks.select("ub", "n_postings").orderBy(F.desc("ub")).limit(64).collect()
        if not meta:
            return empty
        covered = 0
        for r in meta:
            cutoff = float(r["ub"])
            covered += int(r["n_postings"])
            if covered >= target:
                break

        # pass 2: decode seed blocks executor-side, exact-score, k-th score.
        # The ub filter re-evaluates the same deterministic double
        # expression, so the cutoff comparison is exact.
        seed_ids = (
            blocks.filter(F.col("ub") >= cutoff).select("postings_bin")
            .mapInArrow(_decode_doc_ids, schema=_DOCIDS_SCHEMA)
        )
        seed_top = top_k(score_docs(index, weights, stats_rows, wdt_col, seed_ids), k).collect()
        theta = float(seed_top[-1]["score"]) if len(seed_top) >= k else float("-inf")

    # When ranking by round(score, n), a doc with exact score in
    # [theta - 10^-n, theta) can still round into a tie with the k-th rounded
    # score and win the doc_id tie-break — widen the cut by one grid step.
    theta_eff = theta - 10.0 ** (-round_scores) if round_scores is not None else theta

    def fill_stats(survivors: DataFrame | None) -> None:
        if stats is None:
            return
        total = blocks.agg(
            F.count("*").alias("blocks"),
            F.sum("n_postings").alias("postings"),
            F.sum(F.octet_length("postings_bin")).alias("bytes"),
        ).collect()[0]
        stats.update(
            theta=theta,
            cutoff=cutoff,
            blocks_total=int(total["blocks"]),
            postings_total=int(total["postings"] or 0),
            bytes_total=int(total["bytes"] or 0),
        )
        if survivors is None:  # pruning provably inert: nothing decoded
            stats.update(blocks_decoded=0, postings_decoded=0, bytes_decoded=0, pruned=False)
        else:
            kept = survivors.agg(
                F.count("*").alias("blocks"),
                F.sum("n_postings").alias("postings"),
                F.sum(F.octet_length("postings_bin")).alias("bytes"),
            ).collect()[0]
            stats.update(
                blocks_decoded=int(kept["blocks"]),
                postings_decoded=int(kept["postings"] or 0),
                bytes_decoded=int(kept["bytes"] or 0),
                pruned=True,
            )

    # Cost-based prune-or-scan decision (exhaustive is ALWAYS identical in
    # result — pruning is purely a physical optimization, so decline it when
    # it cannot pay):
    #   1. provably inert: every block ub >= theta_eff — nothing to cut;
    #   2. too small to amortize: the decode stage costs a fixed ~0.5s of
    #      plan/worker overhead regardless of data, so pruning pays only
    #      when the bytes it avoids scanning exceed that — below
    #      min_blocks_to_prune total blocks (default 4096 blocks ~= 500k
    #      postings for the query's terms) the exhaustive columnar scan is
    #      cheaper by construction.  At 100 TB a hot term alone has millions
    #      of blocks, so the gate only ever fires on small indexes — which
    #      is exactly when it should;
    #   3. poor selectivity: when the dictionary holds EVERY block max for
    #      every term (n_blocks <= 32), the exact surviving fraction is
    #      computable driver-side — if a majority of blocks survive, most
    #      bytes get decoded anyway and the scan wins.
    prune_viable = not (min_ub is not None and theta_eff <= min_ub)
    # min_blocks_to_prune <= 0 force-disables both cost gates (2 and 3) —
    # diagnostics and tests that must exercise the pruned plan
    if prune_viable and term_meta is not None and min_blocks_to_prune > 0:
        total_blocks = sum(m["n_blocks"] for m in term_meta.values())
        term_bytes = [m.get("bytes") for m in term_meta.values()]
        if all(b is not None for b in term_bytes):
            # dictionary carries per-term compressed footprints: gate on
            # ACTUAL bytes the prune could avoid scanning.  The byte
            # equivalent of the 4096-block proxy (~500k postings at ~3-4
            # compressed bytes/posting) is ~2 MB; scale with the caller's
            # block threshold so a tuned threshold tunes both gates.
            too_small = sum(term_bytes) < min_blocks_to_prune * 512
        else:
            too_small = total_blocks < min_blocks_to_prune
        if too_small:
            prune_viable = False
        elif all(len(m["tops"]) == m["n_blocks"] for m in term_meta.values()):
            surviving = 0
            for t, m in term_meta.items():
                rest = gmax_total - gmax[t]
                surviving += sum(1 for v in m["tops"] if weights[t] * v + rest >= theta_eff)
            if total_blocks and surviving / total_blocks > 0.5:
                prune_viable = False

    # Exhaustive fall-through: ranked_search's plan for the same query —
    # identical result, zero extra distributed work beyond the dictionary
    # lookup already paid.
    if not prune_viable:
        fill_stats(None)
        return top_k(score_docs(index, weights, stats_rows, wdt_col), k, round_scores)

    # prune on ub, decode survivors, exact-score, top-k (lazy)
    survivors = blocks.filter(F.col("ub") >= theta_eff)
    surv_ids = survivors.select("postings_bin").mapInArrow(_decode_doc_ids, schema=_DOCIDS_SCHEMA)
    scored = score_docs(index, weights, stats_rows, wdt_col, surv_ids)
    fill_stats(survivors)
    return top_k(scored, k, round_scores)
