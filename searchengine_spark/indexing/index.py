"""Query-side handle over a built index directory (SURVEY.md §2 R1-R5).

Retrieval maps the reference's dictionary-seek + record-decode
(reference: engine/indexing/diskpositionalindex.py:45-114) onto parquet
predicate pushdown + column pruning:
  * ``postings(term in qterms)`` — filter pushed to the scan; the build wrote
    postings range-partitioned and sorted by term, so row-group min/max stats
    skip everything else (the "seek").
  * non-phrase queries simply don't select ``positions`` — Catalyst column
    pruning means the column is never read (the reference needs explicit
    byte-skipping, diskpositionalindex.py:85-114).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# warm() copies the dictionary to the driver below this many terms (~1 KB
# per term with the block-max arrays): query-time df/block-meta lookups
# become dict hits instead of per-query Spark jobs.  Above it, lookups stay
# as pruned collects against the executor-cached table.
DICT_DRIVER_CACHE_MAX_TERMS = 100_000


class SparkIndex:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.postings = self._open_artifact("postings")
        self.doc_stats = self._open_artifact("doc_stats")
        self.term_stats = self._open_artifact("term_stats")
        self.corpus_stats = self._open_artifact("corpus_stats")
        row = self.corpus_stats.collect()[0]
        self.n_docs = int(row["n_docs"])
        self.total_tokens = int(row["total_tokens"])
        self.avgdl = float(row["avgdl"])

    def _open_artifact(self, name: str) -> DataFrame:
        """Open one index artifact the way the build committed it.  The
        manifest records per-stage sinks: a stage written as an Iceberg
        table (IndexBuilder(iceberg_prefix=...) with a live runtime) is
        read back through the catalog — an index whose artifacts live only
        as Iceberg snapshots is just as servable as a parquet-dir one.
        Stages without an iceberg entry (the in-sandbox default) read the
        parquet directory as before."""
        manifest = os.path.join(self.index_dir, "manifest.json")
        if os.path.exists(manifest):
            try:
                with open(manifest) as f:
                    stage = json.load(f).get("stages", {}).get(name, {})
            except (OSError, json.JSONDecodeError):
                stage = {}
            if stage.get("format") == "iceberg" and stage.get("table"):
                from ..sources.iceberg import read_artifact

                return read_artifact(self.spark, f"iceberg:{stage['table']}")
        return self.spark.read.parquet(os.path.join(self.index_dir, name))

    def warm(self) -> "SparkIndex":
        """Prime the index for serving: pin the dictionary in executor
        memory and run one throwaway scan so parquet footers, generated
        code, and Python worker processes exist before the first timed
        query.  A serving deployment opens the index once and answers many
        queries — latency SLOs are steady-state numbers, and the cold-start
        costs this absorbs (footer reads over every postings file, codegen
        compilation, worker fork) are per-session, not per-query.

        Only vocabulary-sized state is cached: term_stats is O(|vocab|)
        (the reference also holds its dictionary resident,
        diskpositionalindex.py:26-43).  Postings stay on disk behind
        predicate pushdown — at 10^12 turns they cannot and need not be
        cached.

        warm() also flips the session into SERVING shuffle config: AQE
        partition coalescing on, parallelismFirst off.  A query's reduce
        side (groupBy(doc_id) over the few pruned postings of its terms)
        is tiny by bytes, so without coalescing it runs at the build's
        shuffle-partition width — pure per-task scheduling overhead that
        grows with cluster width and dominates warm p95 at small corpus
        sizes.  Coalescing keeps map-side partial aggregation and shrinks
        only the reduce stage, sized by AQE from the actual shuffle bytes
        — exact cost-based sizing per query.  The build needs the opposite
        (its token-stream shuffles are CPU-heavy per byte, so byte-based
        coalescing would serialize them); IndexBuilder.build() pins build
        config for its duration and restores the session's previous values
        after, so build-then-serve and streaming-ingest-plus-serve sessions
        each run every phase under the right shuffle sizing."""
        self.spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        self.term_stats = self.term_stats.persist()
        n_terms = self.term_stats.count()
        # dictionary to the DRIVER when it fits: term_stats_for then becomes
        # a Python dict lookup instead of a per-query Spark job (measured
        # 50-70 ms of every warm query at sf0.1 — pure scheduling, the
        # matching rows are a handful).  Vocab-gated: beyond the cutoff the
        # per-query pruned collect remains (a 10^8-term dictionary belongs
        # in executor memory, not on the driver).
        if n_terms <= DICT_DRIVER_CACHE_MAX_TERMS:
            self._dict_cache = {r["term"]: r.asDict() for r in self.term_stats.collect()}
        # touch every postings file's footer + compile the scan pipeline
        self.postings.filter(F.col("term") == "").select("term").count()
        return self

    @property
    def segments(self) -> DataFrame:
        """Compressed block-max segments (cut by the build's postings+segments sink)."""
        if not hasattr(self, "_segments"):
            self._segments = self.spark.read.parquet(os.path.join(self.index_dir, "segments"))
        return self._segments

    @property
    def manifest(self) -> dict:
        with open(os.path.join(self.index_dir, "manifest.json")) as f:
            return json.load(f)

    # R1/R2: postings scan; positions column pruned unless requested
    def get_postings(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        cols = ["term", "doc_id", "tf", "wdt_bm25", "wdt_tfidf_norm"]
        if with_positions:
            cols.append("positions")
        return self.postings.filter(F.col("term").isin(terms)).select(*cols)

    # R3: point tf lookup — the reference scans the record linearly per call
    # (diskpositionalindex.py:156-188, its O(df^2) ranked-query hot path);
    # here it is a pruned scan, and batch scoring never uses it (weights are
    # precomputed at build time)
    def get_term_frequency(self, term: str, doc_id: int) -> int:
        row = (
            self.postings.filter((F.col("term") == term) & (F.col("doc_id") == doc_id))
            .select("tf")
            .first()
        )
        return int(row["tf"]) if row else 0

    # R4: vocabulary enumeration
    def vocabulary(self) -> DataFrame:
        return self.postings.select("term").distinct().orderBy("term")

    # dictionary lookup for a handful of query terms: a dict hit when warm()
    # cached the dictionary driver-side, else a driver-side tiny collect
    def term_stats_for(self, terms: list[str]) -> dict[str, dict]:
        cache = getattr(self, "_dict_cache", None)
        if cache is not None:
            return {t: cache[t] for t in terms if t in cache}
        rows = self.term_stats.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: r.asDict() for r in rows}

    # R5: title attach — results are top-k (tiny), broadcast them as the
    # BUILD side of an INNER join so doc_stats streams without shuffling.
    # (A left-outer join here cannot broadcast the preserved left side —
    # Spark only supports BuildRight for LeftOuter, so the hint would be
    # dropped and doc_stats would shuffle at scale.  Inner is equivalent:
    # every result doc_id exists in doc_stats by construction.)
    def with_titles(self, results: DataFrame) -> DataFrame:
        if "title" not in self.doc_stats.columns:
            return results
        return F.broadcast(results).join(
            self.doc_stats.select("doc_id", "title"), "doc_id", "inner"
        )
