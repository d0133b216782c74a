"""Ranked retrieval (SURVEY.md §2 K1-K7): BM25 / tf-idf top-k as one
aggregate-and-take plan.

The reference scores term-at-a-time with O(df) point lookups per term
(rankedquery.py:18-49) — its documented slow path.  Here document weights
(wdt) were precomputed at build time into the postings table, so the query
plan is:

    postings[term in qterms]           (pushdown + row-group pruning)
      -> * wqt(term)                   (tiny literal CASE map, JVM-side)
      -> groupBy(doc_id).sum           (partial+final hash agg == the
                                        reference's accumulator dict)
      -> orderBy(score desc, doc_id).limit(k)   (TakeOrderedAndProject:
                                        per-partition heap + driver merge)

wqt is computed on the driver from a df lookup of just the query's terms —
the reference does the same dictionary lookup per term (rankedquery.py:10-16).
Query text is lower().split() only (rankedquery.py:55-57, SURVEY.md §8.Q1).
Ties break by ascending doc_id (deterministic; oracle matches).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..indexing.build import bm25_wqt, tfidf_wqt
from ..indexing.index import SparkIndex
from ..text import preprocess_ranked_query

# Single-stage plan cutoff: when the dictionary says the query's total df is
# below this, the pruned scan is coalesced to ONE partition — a single
# partition satisfies the aggregation's distribution requirement, so Catalyst
# plans scan -> complete hash agg -> TakeOrdered with NO exchange and no
# second stage.  Warm small-query latency is dominated by per-stage
# scheduling (two stages + an AQE re-plan), not by data; collapsing to one
# stage removes that floor.  Above the cutoff (hot terms at corpus scale)
# the distributed partial+final plan is kept — a 100M-posting term must not
# aggregate in one task.  The decision input is exact (df from the same
# dictionary lookup wqt already needs), not a guess.
SINGLE_STAGE_MAX_POSTINGS = 2_000_000


def ranked_search(
    index: SparkIndex,
    raw_query: str,
    mode: str = "bm25",
    k: int = 10,
    doc_filter: DataFrame | None = None,
    round_scores: int | None = None,
) -> DataFrame:
    """Returns DataFrame(doc_id, score) — top-k, score desc, doc_id asc.

    doc_filter: optional DataFrame(doc_id) — e.g. role/tool-filtered docs —
    applied as a semi-join before scoring (the transcript-schema extension:
    free-text queries over role='assistant' or tool='bash' subsets).

    round_scores: if set, emit (doc_id, score_r=round(score, n)) and order by
    the *rounded* score — makes the k-boundary deterministic across engines
    (used by the DuckDB correctness gate)."""
    assert mode in ("bm25", "tfidf")
    terms = preprocess_ranked_query(raw_query)
    if not terms:
        return index.spark.createDataFrame([], "doc_id long, score double")

    stats = index.term_stats_for(list(set(terms)))
    wqt_fn = bm25_wqt if mode == "bm25" else tfidf_wqt
    # duplicate query terms accumulate twice, exactly like the reference's
    # per-term loop (rankedquery.py:34-49)
    weights: dict[str, float] = {}
    for t in terms:
        if t in stats:
            weights[t] = weights.get(t, 0.0) + wqt_fn(index.n_docs, stats[t]["df"])
    if not weights:
        return index.spark.createDataFrame([], "doc_id long, score double")

    wdt_col = "wdt_bm25" if mode == "bm25" else "wdt_tfidf_norm"
    return top_k(score_docs(index, weights, stats, wdt_col, doc_filter), k, round_scores)


def term_case(values: dict[str, float]) -> Column:
    """CASE term WHEN t THEN v ... as a literal map — stays in whole-stage
    codegen."""
    expr = None
    for t, v in values.items():
        clause = F.col("term") == t
        expr = F.when(clause, F.lit(v)) if expr is None else expr.when(clause, F.lit(v))
    return expr


def score_docs(
    index: SparkIndex,
    weights: dict[str, float],
    stats: dict,
    wdt_col: str,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """The ranked scoring plan (K1-K5): DataFrame(doc_id, score = sum of
    wqt * wdt) over the postings of the weighted terms.  ``stats`` is the
    query's term_stats_for lookup.  ``doc_filter`` restricts scoring to
    its doc_ids by a semi-join (no forced broadcast: AQE picks broadcast
    when the set is actually small; left_semi dedupes by construction, so
    no .distinct() shuffle).  Unfiltered queries whose total df is at most
    SINGLE_STAGE_MAX_POSTINGS run as one stage."""
    postings = index.get_postings(list(weights)).select("term", "doc_id", wdt_col)
    if doc_filter is not None:
        postings = postings.join(doc_filter.select("doc_id"), "doc_id", "left_semi")
    scored = postings.withColumn("wqt", term_case(weights))
    total_df = sum(stats[t]["df"] for t in weights)
    if doc_filter is None and total_df <= SINGLE_STAGE_MAX_POSTINGS:
        scored = scored.coalesce(1)
    return scored.groupBy("doc_id").agg(F.sum(F.col("wqt") * F.col(wdt_col)).alias("score"))


def top_k(scored: DataFrame, k: int, round_scores: int | None = None) -> DataFrame:
    """Top k of (doc_id, score) by score desc, doc_id asc; with
    ``round_scores``, (doc_id, score_r) ordered by the rounded score."""
    if round_scores is not None:
        return (
            scored.select("doc_id", F.round("score", round_scores).alias("score_r"))
            .orderBy(F.desc("score_r"), F.asc("doc_id"))
            .limit(k)
        )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def role_tool_filter(index: SparkIndex, role: str | None = None, tool: str | None = None) -> DataFrame:
    """Predicate on doc_stats metadata columns -> DataFrame(doc_id)."""
    df = index.doc_stats
    if role is not None:
        df = df.filter(F.col("role") == role)
    if tool is not None:
        df = df.filter(F.col("tool") == tool)
    return df.select("doc_id")
