"""Logical-plan building blocks: the BM25 constants, the build's term_stats
aggregate (build.py) and ``postings_all_table``, the
pure-DataFrame postings plan the tests use as an independent reference for
the build's kernels.

Everything here is a pure DataFrame -> DataFrame function.  Semantics cites
are in build.py / SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75


def postings_all_table(tokens: DataFrame) -> DataFrame:
    """B1: (term, doc_id) -> tf + sorted positions (duplicates kept — hyphen
    variants that clean to the same term share a position)."""
    return tokens.groupBy("term", "doc_id").agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("position")).alias("positions"),
    )


def term_stats_table(postings: DataFrame) -> DataFrame:
    """B7 + block-max metadata."""
    return postings.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.max("wdt_bm25").alias("max_wdt_bm25"),
        F.max("wdt_tfidf_norm").alias("max_wdt_tfidf_norm"),
    )
