"""Index-free engine over any (doc_id, text) table.

Same logical plan as the persisted index (indexing/logical.py) but computed
in-session and cached with .persist() — used by the driver-contract queries
in __spark_entry__.py, where each call gets (spark, sf_dir) and must be
self-contained.  Duck-types the SparkIndex interface that querying/boolean.py
and querying/ranked.py consume (postings / get_postings / term_stats_for /
n_docs / avgdl / spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .indexing.logical import (
    corpus_stats_table,
    doc_stats_table,
    term_stats_table,
    weighted_postings_table,
)
from .text.spark_tokenize import tokenize


class DocumentsEngine:
    def __init__(self, spark: SparkSession, docs: DataFrame):
        """docs: (doc_id:long, text:string [+ metadata columns]).

        Postings come from the same range-shuffle + sorted-partition numpy
        kernel as the persisted build (empty terms kept for doc_length/L_d
        accounting) — no collect_list ObjectHashAggregate anywhere."""
        from .indexing.build import RAW_POSTINGS_SCHEMA, _postings_kernel

        self.spark = spark
        self.docs = docs
        self.tokens = tokenize(docs.select("doc_id", "text"))
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        postings_all = (
            self.tokens.repartitionByRange(n_parts, "term", "doc_id")
            .sortWithinPartitions("term", "doc_id", "position")
            .mapInPandas(_postings_kernel, schema=RAW_POSTINGS_SCHEMA)
        )
        self.doc_stats = doc_stats_table(postings_all).persist()
        row = corpus_stats_table(self.doc_stats).collect()[0]
        self.n_docs = int(row["n_docs"])
        self.total_tokens = int(row["total_tokens"])
        self.avgdl = float(row["avgdl"])
        self.postings = weighted_postings_table(postings_all, self.doc_stats, self.avgdl).persist()
        self.term_stats = term_stats_table(self.postings)

    @property
    def segments(self) -> DataFrame:
        """In-session compressed block-max segments (same layer the persisted
        build writes; lets the WAND path run index-free)."""
        if not hasattr(self, "_segments"):
            from .indexing.segments import encode_segments

            n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            sorted_postings = self.postings.repartitionByRange(
                n_parts, "term", "doc_id"
            ).sortWithinPartitions("term", "doc_id")
            self._segments = encode_segments(sorted_postings).persist()
        return self._segments

    # SparkIndex duck-type surface --------------------------------------
    def get_postings(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        cols = ["term", "doc_id", "tf", "wdt_bm25", "wdt_tfidf_norm"]
        if with_positions:
            cols.append("positions")
        return self.postings.filter(F.col("term").isin(terms)).select(*cols)

    def term_stats_for(self, terms: list[str]) -> dict[str, dict]:
        rows = self.term_stats.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: r.asDict() for r in rows}

    def unpersist(self) -> None:
        self.doc_stats.unpersist()
        self.postings.unpersist()


_ENGINE_CACHE: dict[tuple[str, str], DocumentsEngine] = {}


def documents_engine(spark: SparkSession, sf_dir: str) -> DocumentsEngine:
    """Cached engine over {sf_dir}/documents.parquet.  Keyed on the
    session's applicationId (not id(spark): a freed id can be reused by a
    NEW session, aliasing it to a stale engine whose persisted frames died
    with the old session).  Entries from other applications are evicted —
    their cached frames are unreachable once their session stops."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _ENGINE_CACHE:
        for stale in [k for k in _ENGINE_CACHE if k[0] != app_id]:
            del _ENGINE_CACHE[stale]
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        _ENGINE_CACHE[key] = DocumentsEngine(spark, docs)
    return _ENGINE_CACHE[key]
