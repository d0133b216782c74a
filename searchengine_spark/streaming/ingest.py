"""Incremental index ingest via Structured Streaming (Spark-first extension).

The reference is batch-only (its closest concept is the GUI progress callback,
spimi.py:96-98), but a 10^12-turn corpus is never static, so the engine
supports Lucene-style *segment deltas*:

  readStream(transcripts) -> foreachBatch (process_batch):
      assign doc_ids (dense, continuing from the running high-water mark)
      the encoded build's kernels over the epoch: one fused tokenize+stats
      pass, the driver dictionary and route plan, one planned packed-long
      shuffle and the Arrow postings kernel in raw mode
        -> raw postings delta (term, doc_id, tf, positions), written
           term-ranged and sorted
      doc_stats delta from the stats pseudo-rows + epoch manifest entry
      (n_docs, total_tokens, phase_seconds)
  compact():
      first: merge every delta (one range shuffle) and cut weighted
      postings + block-max segments in one pass -> a standard SparkIndex
      later: weight and cut ONLY the new deltas (no shuffle — they are
      already sorted) and append them; merge the dictionary

Deltas deliberately carry RAW tf/positions, not scoring weights: wdt depends
on avgdl, a corpus-global statistic that drifts as turns arrive — weights are
finalized at compaction, exactly as the batch build computes them after
corpus_stats.  Exactly-once: the streaming checkpoint dedupes source files,
and each epoch writes to its own delta path recorded in the manifest (an
epoch retried by the sink overwrites its own directory — idempotent).  An
incremental compaction names the files it appends after itself and rolls
back what an earlier, crashed attempt left, so a retry never appends an
epoch twice (see _compact_incremental).

DocID contract under streaming: dense in *arrival order* (epoch order, then
(conv_id, turn_idx) within the batch).  This extends the reference's
"assignment order" contract (directorycorpus.py:64-79) to unbounded input;
when files arrive in corpus order the ids coincide with the batch build
(tested in tests/test_streaming.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data.transcripts import spark_schema
from ..indexing import build as B
from ..indexing.build import IndexBuilder, assign_doc_ids


def _swap_dir(new: str, final: str, prev: str) -> None:
    """Replace directory ``final`` by ``new`` with two renames, keeping the
    old one at ``prev`` until the caller removes it.  Unlike rmtree +
    rename, a crash between the steps loses nothing: the old directory is
    still whole at ``prev``."""
    shutil.rmtree(prev, ignore_errors=True)
    if os.path.isdir(final):
        os.replace(final, prev)
    os.replace(new, final)


def _raw_partition(avgdl: float, weights_bc, lo: int):
    """_partition_kernel source over sorted raw delta rows (term, doc_id,
    tf, positions): one partition's postings arrays with the document
    weights of the pinned ``avgdl``.  Doc weight inputs come from the dense
    broadcast ``weights_bc`` = (doc_len, l2) arrays indexed by doc_id - lo,
    or, when it is None, from ``doc_len``/``l2_weight`` columns on the rows."""

    def postings_of(batches):
        import numpy as np
        import pyarrow as pa

        from searchengine_spark.indexing.build import _doc_weights
        from searchengine_spark.indexing.segments import term_runs

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return None
        t = pa.Table.from_batches(batches).combine_chunks()
        doc = t.column("doc_id").to_numpy()
        tf = t.column("tf").to_numpy()
        if weights_bc is None:
            dl = t.column("doc_len").to_numpy().astype(np.float64)
            l2 = t.column("l2_weight").to_numpy()
        else:
            dl_arr, l2_arr = weights_bc.value
            dl, l2 = dl_arr[doc - lo], l2_arr[doc - lo]
        w_bm, w_ti = _doc_weights(tf, dl, l2, avgdl)
        run_starts, run_terms = term_runs(t.column("term").chunk(0))
        flat_pos = t.column("positions").chunk(0).flatten().to_numpy()
        return run_starts, run_terms, doc, tf, flat_pos, w_bm, w_ti

    return postings_of


def _merge_term_stats(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two term_stats tables (B7 + block-max metadata) — a vocab-sized
    full-outer join, NOT a re-aggregation over the postings: df/cf add,
    max_wdt_* take the max, block-max top lists concat+resort+slice(32),
    min block maxima take the min, block counts add.  Every combiner is
    associative, so repeated incremental compactions compose exactly."""
    # a pre-postings_bytes dictionary artifact has an UNKNOWN footprint, not
    # a zero one: it merges as null, so a term it holds keeps a null total
    # and WAND falls back to its block-count gate for that term (the column
    # was introduced with the fused metrics tail)
    for col in ("postings_bytes",):
        if col not in old.columns:
            old = old.withColumn(col, F.lit(None).cast("long"))
        if col not in delta.columns:
            delta = delta.withColumn(col, F.lit(None).cast("long"))
    o = old.select([F.col(c).alias(f"o_{c}") for c in old.columns])
    d = delta.select([F.col(c).alias(f"d_{c}") for c in delta.columns])
    j = o.join(d, o["o_term"] == d["d_term"], "full_outer")

    def add(col):
        return (F.coalesce(f"o_{col}", F.lit(0)) + F.coalesce(f"d_{col}", F.lit(0))).alias(col)

    def add_known(col):
        # a side that lacks the term adds 0; a side that has it with an
        # unknown (null) value makes the total unknown
        o_val = F.when(F.col("o_term").isNull(), F.lit(0)).otherwise(F.col(f"o_{col}"))
        d_val = F.when(F.col("d_term").isNull(), F.lit(0)).otherwise(F.col(f"d_{col}"))
        return (o_val + d_val).alias(col)

    def mx(col):
        return F.greatest(f"o_{col}", f"d_{col}").alias(col)

    def mn(col):
        return F.least(f"o_{col}", f"d_{col}").alias(col)

    def top32(col):
        empty = F.array().cast("array<double>")
        return F.slice(
            F.sort_array(
                F.concat(F.coalesce(f"o_{col}", empty), F.coalesce(f"d_{col}", empty)),
                asc=False,
            ),
            1,
            32,
        ).alias(col)

    return j.select(
        F.coalesce("o_term", "d_term").alias("term"),
        add("df"),
        add("cf"),
        mx("max_wdt_bm25"),
        mx("max_wdt_tfidf_norm"),
        top32("top_block_max_bm25"),
        mn("min_block_max_bm25"),
        top32("top_block_max_tfidf_norm"),
        mn("min_block_max_tfidf_norm"),
        add("n_blocks"),
        add_known("postings_bytes"),
    )


class StreamingIndexer:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        n_partitions: int | None = None,
        max_artifact_files: int | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.n_partitions = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.deltas_dir = os.path.join(index_dir, "deltas")
        self.manifest_path = os.path.join(index_dir, "stream_manifest.json")
        # small-files bound: when any artifact's parquet file count crosses
        # this, the accumulated DELTA tier is merged (see _maybe_merge_tiers)
        self.max_artifact_files = max_artifact_files or max(3 * self.n_partitions, 24)

    # -- manifest ----------------------------------------------------------
    def _manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"next_doc_id": 0, "epochs": {}}

    def _save(self, m: dict) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self.manifest_path)

    # -- micro-batch sink --------------------------------------------------
    def _epoch_width(self, n_docs: int = 0) -> int:
        """Partitions of an epoch's passes: one wave over the cluster's
        cores (at most n_partitions) — a small epoch gives each task little
        work, while every task still pays its scheduling, its Arrow round
        trip through a Python worker and its own shuffle files, so a second
        wave of tiny tasks only adds latency — or more once the epoch fills
        DOCS_PER_POSTINGS_PARTITION-sized partitions."""
        one_wave = min(self.n_partitions, self.spark.sparkContext.defaultParallelism)
        return max(one_wave, -(-n_docs // B.DOCS_PER_POSTINGS_PARTITION))

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body — also callable directly (tests / backfills).
        Pinned build shuffle config: an ingest-plus-serve session has AQE
        coalescing flipped on by SparkIndex.warm(), which must not squeeze
        the epoch's token shuffle (see pinned_build_conf)."""
        with B.pinned_build_conf(self.spark):
            try:
                return self._process_batch_inner(batch_df, epoch_id)
            finally:
                self.spark.sparkContext.setJobDescription(None)

    def _process_batch_inner(self, batch_df: DataFrame, epoch_id: int) -> None:
        m = self._manifest()
        if str(epoch_id) in m["epochs"]:
            return  # retried epoch: already durable (idempotent sink)
        base = m["next_doc_id"]
        spark = self.spark
        set_desc = spark.sparkContext.setJobDescription
        clock = B.PhaseClock()

        set_desc("phase:doc_ids — range + number the epoch's turns")
        # the epoch's kernels run on its own 0-based doc ids, so the packed
        # shuffle key stays epoch-sized however large the index grows; base
        # is added where rows leave for the delta files
        assigned = assign_doc_ids(batch_df, n_partitions=self._epoch_width())
        n_new = assigned._n_docs
        docs = assigned.withColumn("title", F.concat_ws(":", "conv_id", "turn_idx"))
        clock.lap("doc_ids")

        fused = B._fused_tokenize(docs)
        types = B._fused_types(fused)
        set_desc("phase:vocab — tokenize pass + per-type count collect")
        vocab = B._collect_vocab(types)
        clock.lap("vocab_collect")
        raw = id2term_bc = None
        if vocab is not None:
            set_desc("phase:stats — fused-pass pseudo-row collect")
            stats_pdf = B._stats_rows(fused)
            clock.lap("stats_collect")
            max_dl = int(stats_pdf["doc_len"].max()) if len(stats_pdf) else 0
            plan = B._route_plan(vocab.term_tokens, self._epoch_width(n_new))
            stream, pack_bits = B._planned_token_stream(spark, types, vocab, plan, n_new, max_dl)
            if pack_bits is not None:
                id2term_bc = spark.sparkContext.broadcast(vocab.id2term)
                kernel = B._postings_kernel_packed(None, None, id2term_bc, *pack_bits, doc_base=base)
                raw = stream.mapInArrow(kernel, schema=B.RAW_POSTINGS_SCHEMA)
        grouped = None
        if raw is None:
            # over-cutoff epoch (vocabulary or packed key too large for the
            # driver dictionary): the dist build's map-side grouping kernel
            # emits finished raw postings and the stats rows, and one range
            # shuffle orders the postings
            raw, stats_pdf, grouped = self._grouped_delta(docs, base)
            clock.lap("stats_collect")

        epoch_dir = os.path.join(self.deltas_dir, f"epoch={epoch_id}")
        set_desc("phase:postings_raw — planned packed shuffle + raw kernel + parquet write")
        raw.write.mode("overwrite").parquet(os.path.join(epoch_dir, "postings_raw"))
        if id2term_bc is not None:
            id2term_bc.unpersist()
        clock.lap("postings_raw")

        set_desc("phase:doc_stats — stats rows joined to the turn metadata")
        meta_cols = [c for c in ("title", *B.META_COLS) if c in docs.columns]
        # data-sized files: compaction copies them into the index as they are
        B._doc_stats_frame(spark, docs, stats_pdf, meta_cols).withColumn(
            "doc_id", F.col("doc_id") + F.lit(base)
        ).coalesce(max(1, -(-n_new // B.DOCS_PER_DOC_PARTITION))).write.mode("overwrite").parquet(
            os.path.join(epoch_dir, "doc_stats")
        )
        clock.lap("doc_stats")

        m["epochs"][str(epoch_id)] = {
            "base_doc_id": base,
            "n_docs": n_new,
            "total_tokens": int(stats_pdf["doc_len"].sum()),
            "completed_at": time.time(),
            "phase_seconds": clock.phases,
        }
        m["next_doc_id"] = base + n_new
        self._save(m)
        fused.unpersist()
        if grouped is not None:
            grouped.unpersist()
        # same policy as IndexBuilder.build: scoped release, falling back to
        # the drain only in the unambiguous single-cache case
        if not B.release_docid_cache_of(assigned) and len(B._DOCID_CACHES) == 1:
            B.release_docid_caches()

    def _grouped_delta(self, docs: DataFrame, base: int):
        """Raw postings and stats rows of an epoch beyond the driver
        dictionary's reach, from build_dist's fused tokenize+group kernel.
        Returns (raw postings frame, stats pandas frame, the grouped cache)."""
        from ..indexing.build_dist import GROUPED_SCHEMA, _fused_tokenize_group_kernel

        self.spark.sparkContext.setJobDescription("phase:stats — grouped tokenize pass + stats rows")
        grouped = (
            docs.select("doc_id", "text")
            .mapInPandas(_fused_tokenize_group_kernel("text", "doc_id"), schema=GROUPED_SCHEMA)
            .persist()
        )
        stats_pdf = (
            grouped.filter(F.col("term").isNull())
            .select("doc_id", F.col("doc_len").cast("long").alias("doc_len"), F.col("w").alias("l2_weight"))
            .toPandas()
        )
        raw = (
            grouped.filter(F.col("term").isNotNull())
            .select(
                "term",
                (F.col("doc_id") + F.lit(base)).alias("doc_id"),
                F.col("tf").cast("long").alias("tf"),
                F.col("positions").cast("array<long>").alias("positions"),
            )
            .repartitionByRange(self.n_partitions, "term", "doc_id")
            .sortWithinPartitions("term", "doc_id")
        )
        return raw, stats_pdf, grouped

    # -- driver ------------------------------------------------------------
    def start(self, source_path: str, checkpoint_dir: str, available_now: bool = True):
        """Stream transcript parquet files from source_path; availableNow
        drains everything currently present then stops (the backfill mode);
        set False for a continuous run."""
        stream = (
            self.spark.readStream.schema(spark_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(source_path)
        )
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- compaction --------------------------------------------------------
    def compact(self, avgdl_tolerance: float = 0.05) -> dict:
        """Merge deltas into a standard batch index layout (postings with
        finalized weights, block-max segments, term/doc/corpus stats) under
        index_dir.  Pinned build shuffle config (see pinned_build_conf).

        INCREMENTAL after the first compaction: only epochs ingested since
        the last compact are weighted, encoded and APPENDED as new parquet
        files next to the existing ones — O(delta) work, the existing
        postings/segments files are not rewritten (new doc_ids never
        collide with old ones, so the union is exact).  The vocab-sized
        term_stats table is merged (df/cf sums, block-max top merges) and
        the one-row corpus_stats is recomputed arithmetically.

        Document weights depend on avgdl, a corpus-global statistic that
        drifts as turns arrive.  Old docs' (tf, doc_len) never change, so
        their weights stay exact under the avgdl the index was built with;
        the incremental path therefore weights NEW postings with that same
        pinned avgdl (keeping every score in the index mutually consistent)
        as long as the true avgdl has drifted less than ``avgdl_tolerance``
        relatively — beyond that it falls back to a full recompaction with
        the fresh avgdl (deltas are retained for exactly this).  Tolerance 0
        forces a full recompact whenever avgdl moved at all."""
        with B.pinned_build_conf(self.spark):
            try:
                return self._compact(avgdl_tolerance)
            finally:
                self.spark.sparkContext.setJobDescription(None)

    def _compact(self, avgdl_tolerance: float) -> dict:
        m = self._manifest()
        if m.get("merge_journal"):
            # a tier merge crashed mid-swap: complete it before anything
            # reads the artifacts (moves/deletes are idempotent replays)
            self._apply_merge_journal(m)
        if not m["epochs"]:
            raise ValueError("no epochs ingested")
        compacted = m.get("compacted")
        new_epochs = [
            eid
            for eid in sorted(m["epochs"], key=int)
            if eid not in set(m.get("compacted_epochs", []))
        ]
        if compacted is None:
            return self._compact_full(m)
        if not new_epochs:
            return self._load_builder_manifest()
        result = self._compact_incremental(m, new_epochs, avgdl_tolerance)
        self._maybe_merge_tiers(self._manifest())
        return result

    def _load_builder_manifest(self) -> dict:
        builder = IndexBuilder(self.spark, self.index_dir, self.n_partitions)
        builder._load_manifest()
        return builder.manifest

    # -- tier merge (bounded small files) ----------------------------------
    # Incremental compaction appends O(delta) files per epoch and never
    # rewrites the big artifacts — after hundreds of epochs the index would
    # degrade into a small-files problem (every query scanning thousands of
    # parquet footers; round-4 verdict finding #3).  LSM-style fix: the
    # files present at the last FULL compact form the immutable MAIN tier
    # (recorded in the stream manifest); everything appended since is the
    # DELTA tier.  When any artifact's file count crosses
    # ``max_artifact_files``, the delta tier alone is merged — postings
    # re-sorted into data-sized range partitions, segments RE-ENCODED from
    # the merged postings (defragmenting the per-epoch partial blocks),
    # term_stats rewritten from the full segments table so block-max WAND
    # metadata stays exact — and the many small files are swapped for the
    # few merged ones.  Main-tier bytes are never touched: the merge is
    # O(accumulated delta), not O(index), and the file count stays bounded
    # by |main| + O(k) between full compacts.  The swap is journaled in the
    # stream manifest (moves then deletes, both idempotent) so a crash
    # mid-swap is completed by the next compact() instead of losing or
    # double-counting postings.  (At 10^12-turn scale the same commit
    # becomes an Iceberg snapshot swap; the journal is the parquet-dir
    # equivalent.)

    _MERGE_ARTIFACTS = ("postings", "segments", "doc_stats")
    _MERGE_TARGET_BYTES = 96 * 1024 * 1024  # one merged partition ~96 MB

    def _list_parquet(self, artifact: str) -> list[str]:
        d = os.path.join(self.index_dir, artifact)
        if not os.path.isdir(d):
            return []
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    def _maybe_merge_tiers(self, m: dict) -> bool:
        listings = {a: self._list_parquet(a) for a in self._MERGE_ARTIFACTS}
        if all(len(v) <= self.max_artifact_files for v in listings.values()):
            return False
        if "tier_files" not in m:
            # Index predates tier tracking (built before this feature, or by
            # IndexBuilder directly): adopt everything on disk as the main
            # tier rather than treating it all as delta — the latter would
            # re-sort the ENTIRE index in one merge, the O(index) rewrite
            # this path exists to avoid.  Only post-adoption appends merge.
            m["tier_files"] = {a: listings[a] for a in self._MERGE_ARTIFACTS}
            self._save(m)
            return False
        tier = m.get("tier_files", {})
        cand = {
            a: [f for f in listings[a] if f not in set(tier.get(a, []))]
            for a in self._MERGE_ARTIFACTS
        }
        if len(cand["postings"]) < 2 and len(cand["doc_stats"]) < 2:
            return False
        spark = self.spark
        merge_id = int(m.get("merge_seq", 0)) + 1

        def width(art: str, files: list[str]) -> int:
            total = sum(
                os.path.getsize(os.path.join(self.index_dir, art, f)) for f in files
            )
            return max(1, -(-total // self._MERGE_TARGET_BYTES))

        moves: dict[str, dict[str, str]] = {}
        deletes: dict[str, list[str]] = {}

        def stage(art: str, df) -> None:
            tmp = os.path.join(self.index_dir, f"{art}_merge_tmp")
            df.write.mode("overwrite").parquet(tmp)
            moves[art] = {
                f: f"m{merge_id}-{f}"
                for f in sorted(os.listdir(tmp))
                if f.endswith(".parquet")
            }
            deletes[art] = cand[art]

        if len(cand["postings"]) >= 2:
            from ..indexing.segments import encode_segments

            paths = [os.path.join(self.index_dir, "postings", f) for f in cand["postings"]]
            merged = (
                spark.read.parquet(*paths)
                .repartitionByRange(width("postings", cand["postings"]), "term", "doc_id")
                .sortWithinPartitions("term", "doc_id")
                .persist()
            )
            stage("postings", merged)
            # re-encode blocks from the merged tier: per-epoch partial
            # blocks collapse into full ones; delta-tier doc_ids all exceed
            # the main tier's, so the block set stays a valid WAND layout
            stage("segments", encode_segments(merged))
            merged.unpersist()
        if len(cand["doc_stats"]) >= 2:
            paths = [os.path.join(self.index_dir, "doc_stats", f) for f in cand["doc_stats"]]
            stage(
                "doc_stats",
                spark.read.parquet(*paths).repartitionByRange(
                    width("doc_stats", cand["doc_stats"]), "doc_id"
                ),
            )

        m["merge_journal"] = {"id": merge_id, "moves": moves, "deletes": deletes}
        m["merge_seq"] = merge_id
        self._save(m)
        self._apply_merge_journal(m)
        return True

    def _apply_merge_journal(self, m: dict) -> None:
        """Complete a staged tier merge: move merged files in, delete the
        merged-away small files, rewrite term_stats from the (now final)
        segments table, record the new tier, clear the journal.  Every step
        is idempotent, so a crash anywhere is finished by replaying."""
        from ..indexing.build import term_stats_with_block_meta

        j = m["merge_journal"]
        for art, mv in j["moves"].items():
            tmp = os.path.join(self.index_dir, f"{art}_merge_tmp")
            for src_name, dst_name in mv.items():
                src = os.path.join(tmp, src_name)
                if os.path.exists(src):
                    os.replace(src, os.path.join(self.index_dir, art, dst_name))
        for art, dels in j["deletes"].items():
            for f in dels:
                p = os.path.join(self.index_dir, art, f)
                if os.path.exists(p):
                    os.remove(p)
        if "segments" in j["moves"]:
            ts = term_stats_with_block_meta(
                self.spark.read.parquet(os.path.join(self.index_dir, "segments"))
            )
            tmp_ts = os.path.join(self.index_dir, "term_stats_tmp")
            ts.write.mode("overwrite").parquet(tmp_ts)
            prev_ts = os.path.join(self.index_dir, "term_stats_prev")
            _swap_dir(tmp_ts, os.path.join(self.index_dir, "term_stats"), prev_ts)
            shutil.rmtree(prev_ts, ignore_errors=True)
        for art in j["moves"]:
            shutil.rmtree(os.path.join(self.index_dir, f"{art}_merge_tmp"), ignore_errors=True)
        # tier_files deliberately stays the MAIN (full-compact) tier: the
        # merged output remains part of the delta tier and is re-merged next
        # time, so the post-merge file count is main + O(delta_bytes/target)
        # — bounded by DATA size, not epoch count.  (Recording merged files
        # as main would leak one file per merge forever.)
        m.pop("merge_journal", None)
        self._save(m)

    # -- incremental compaction -------------------------------------------
    # The files an incremental compaction appends carry its tag, the number
    # of epochs compacted before it: a retry of a crashed attempt gets the
    # same tag (it did not record its epochs), every later compaction a new
    # one.  The attempt stages its outputs under _compact_<tag>, and keeps
    # the dictionary it replaced there until the stream manifest records
    # the epochs — so a retry first rolls the crashed attempt back (deletes
    # its tagged files, restores the old dictionary) and never appends an
    # epoch twice or merges it into the dictionary twice.

    def _roll_back_incremental(self, tag: str) -> None:
        stage = os.path.join(self.index_dir, f"_compact_{tag}")
        prev_ts = os.path.join(stage, "term_stats_prev")
        if os.path.isdir(prev_ts):
            # the dictionary swap began but the epochs were never recorded
            final_ts = os.path.join(self.index_dir, "term_stats")
            shutil.rmtree(final_ts, ignore_errors=True)
            os.replace(prev_ts, final_ts)
        for name in os.listdir(self.index_dir):
            if name.startswith("_compact_"):  # this tag's, or a finished one's
                shutil.rmtree(os.path.join(self.index_dir, name), ignore_errors=True)
        for art in self._MERGE_ARTIFACTS:
            d = os.path.join(self.index_dir, art)
            for f in os.listdir(d):
                if f.startswith((f"{tag}-", f".{tag}-")):
                    os.remove(os.path.join(d, f))

    def _epoch_totals(self, m: dict, eids: list[str]) -> tuple[int, int]:
        """(docs, tokens) of the given epochs, from their manifest entries;
        epochs recorded before the entries carried totals are aggregated
        from their doc_stats deltas."""
        entries = [m["epochs"][e] for e in eids]
        if all("total_tokens" in e for e in entries):
            return sum(e["n_docs"] for e in entries), sum(e["total_tokens"] for e in entries)
        agg = (
            self.spark.read.parquet(*[os.path.join(self._epoch_dir(e), "doc_stats") for e in eids])
            .agg(F.count("*").alias("n"), F.coalesce(F.sum("doc_len"), F.lit(0)).alias("tok"))
            .collect()[0]
        )
        return int(agg["n"]), int(agg["tok"])

    def _epoch_dir(self, eid: str) -> str:
        return os.path.join(self.deltas_dir, f"epoch={eid}")

    def _weight_arrays(self, eids: list[str], lo: int, size: int):
        """Dense (doc_len, l2_weight) arrays over doc ids [lo, lo + size)
        from the epochs' doc_stats deltas, read on the driver with pyarrow
        (the stream index lives on the driver's filesystem) — no Spark job.
        None when an id falls outside the range (see dense_doc_weights)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pa.concat_tables(
            [
                pq.read_table(
                    os.path.join(self._epoch_dir(e), "doc_stats"),
                    columns=["doc_id", "doc_len", "l2_weight"],
                )
                for e in eids
            ]
        )
        return B.dense_doc_weights(
            t.column("doc_id").to_numpy(),
            t.column("doc_len").to_numpy(),
            t.column("l2_weight").to_numpy(zero_copy_only=False),
            lo,
            size,
        )

    def _joined_ranged(self, raw: DataFrame, doc_stats: DataFrame, n_docs: int) -> DataFrame:
        """Raw postings with their docs' (doc_len, l2_weight) joined onto
        the rows, range-shuffled into data-sized (term, doc_id) partitions
        (as the bulk build sizes them, DOCS_PER_POSTINGS_PARTITION) and
        sorted — the id-agnostic weight source, bounded at any size."""
        width = max(self.n_partitions, -(-n_docs // B.DOCS_PER_POSTINGS_PARTITION))
        return (
            raw.join(doc_stats.select("doc_id", "doc_len", "l2_weight"), "doc_id")
            .repartitionByRange(width, "term", "doc_id")
            .sortWithinPartitions("term", "doc_id")
        )

    def _cut_postings_segments(self, sorted_raw: DataFrame, avgdl: float, weights_bc, lo: int, out: str) -> int:
        """Weight sorted raw postings and write out/postings and
        out/segments from them — the fused side-write when _side_write_ok
        holds, else two passes over a persisted input.  Returns the number
        of postings written (from the parquet footers, no count job)."""
        from ..indexing.segments import SEGMENT_SCHEMA

        spark = self.spark
        post_dir, seg_dir = os.path.join(out, "postings"), os.path.join(out, "segments")
        source = _raw_partition(avgdl, weights_bc, lo)
        if B._side_write_ok(spark, seg_dir):
            spark.sparkContext.setJobDescription("phase:postings+segments — one pass, fused sinks")
            shutil.rmtree(seg_dir, ignore_errors=True)
            os.makedirs(seg_dir)
            sorted_raw.mapInArrow(
                B._partition_kernel(source, seg_dir=seg_dir), schema=B.POSTINGS_SCHEMA
            ).write.mode("overwrite").parquet(post_dir)
            n_postings = sum(p["rows"] for p in B._partition_lineage(post_dir))
            B._finalize_side_segments(spark, seg_dir, n_postings)
            return n_postings
        spark.sparkContext.setJobDescription("phase:postings+segments — two passes")
        cached = sorted_raw.persist()
        cached.mapInArrow(B._partition_kernel(source), schema=B.POSTINGS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(post_dir)
        cached.mapInArrow(
            B._segments_partition_kernel(source), schema=SEGMENT_SCHEMA
        ).write.mode("overwrite").parquet(seg_dir)
        cached.unpersist()
        return sum(p["rows"] for p in B._partition_lineage(post_dir))

    def _write_corpus_stats(self, n_docs: int, total_tokens: int, avgdl: float) -> None:
        """The one-row corpus_stats artifact, written with pyarrow on the
        driver and swapped in whole."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = os.path.join(self.index_dir, "corpus_stats_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(
            pa.table(
                {
                    "n_docs": pa.array([n_docs], pa.int64()),
                    "total_tokens": pa.array([total_tokens], pa.int64()),
                    "avgdl": pa.array([avgdl], pa.float64()),
                }
            ),
            os.path.join(tmp, "part-00000.parquet"),
        )
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
        prev = os.path.join(self.index_dir, "corpus_stats_prev")
        _swap_dir(tmp, os.path.join(self.index_dir, "corpus_stats"), prev)
        shutil.rmtree(prev, ignore_errors=True)

    def _compact_incremental(self, m: dict, new_epochs: list[str], tolerance: float) -> dict:
        spark = self.spark
        set_desc = spark.sparkContext.setJobDescription
        clock = B.PhaseClock()
        tag = f"i{len(m.get('compacted_epochs', []))}"
        self._roll_back_incremental(tag)
        st = m["compacted"]

        n_delta, tok_delta = self._epoch_totals(m, new_epochs)
        n_docs_new = st["n_docs"] + n_delta
        total_new = st["total_tokens"] + tok_delta
        avgdl_true = total_new / n_docs_new if n_docs_new else 0.0
        avgdl_used = st["avgdl_used"]
        drift = abs(avgdl_true - avgdl_used) / avgdl_used if avgdl_used else float("inf")
        if drift > tolerance:
            return self._compact_full(m)

        # O(delta): the new epochs' raw postings are already term-ranged and
        # sorted by process_batch — weight them with the pinned avgdl and
        # cut postings + segments without any shuffle
        entries = [m["epochs"][e] for e in new_epochs]
        lo = min(e["base_doc_id"] for e in entries)
        hi = max(e["base_doc_id"] + e["n_docs"] for e in entries)
        weights = None
        if n_delta <= B.BROADCAST_WEIGHTS_MAX_DOCS:
            weights = self._weight_arrays(new_epochs, lo, hi - lo)
        clock.lap("weights")
        stage = os.path.join(self.index_dir, f"_compact_{tag}")
        raw = spark.read.parquet(
            *[os.path.join(self._epoch_dir(e), "postings_raw") for e in new_epochs]
        )
        weights_bc = None
        if weights is None:
            # a delta beyond the broadcast cutoff (or with ids outside its
            # epochs' range): weights joined onto the rows, which then need
            # the range shuffle
            doc_stats = spark.read.parquet(
                *[os.path.join(self._epoch_dir(e), "doc_stats") for e in new_epochs]
            )
            raw = self._joined_ranged(raw, doc_stats, n_delta)
        else:
            weights_bc = spark.sparkContext.broadcast(weights)
            raw = raw.sortWithinPartitions("term", "doc_id")
        n_postings_delta = self._cut_postings_segments(raw, avgdl_used, weights_bc, lo, stage)
        if weights_bc is not None:
            weights_bc.unpersist()
        clock.lap("postings_segments")

        # vocab-sized merge of the dictionary (not an O(index) re-aggregation)
        set_desc("phase:term_stats — delta dictionary merge")
        old_ts = spark.read.parquet(os.path.join(self.index_dir, "term_stats"))
        delta_ts = B.term_stats_with_block_meta(spark.read.parquet(os.path.join(stage, "segments")))
        _merge_term_stats(old_ts, delta_ts).write.mode("overwrite").parquet(
            os.path.join(stage, "term_stats")
        )
        clock.lap("term_stats")

        # publish: tagged appends, then the dictionary and corpus stats
        for art in ("postings", "segments"):
            src = os.path.join(stage, art)
            for f in sorted(os.listdir(src)):
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    os.replace(os.path.join(src, f), os.path.join(self.index_dir, art, f"{tag}-{f}"))
        # the epochs' doc_stats files are copied (kept for full recompaction)
        ds_dir = os.path.join(self.index_dir, "doc_stats")
        for e in new_epochs:
            src = os.path.join(self._epoch_dir(e), "doc_stats")
            for f in sorted(os.listdir(src)):
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    name = f"{tag}-e{e}-{f}"
                    shutil.copyfile(os.path.join(src, f), os.path.join(ds_dir, f".{name}"))
                    os.replace(os.path.join(ds_dir, f".{name}"), os.path.join(ds_dir, name))
        _swap_dir(
            os.path.join(stage, "term_stats"),
            os.path.join(self.index_dir, "term_stats"),
            os.path.join(stage, "term_stats_prev"),
        )
        self._write_corpus_stats(n_docs_new, total_new, float(avgdl_true))
        clock.lap("publish")

        manifest = self._finalize_manifests(
            m,
            n_docs=n_docs_new,
            total_tokens=total_new,
            avgdl_true=avgdl_true,
            avgdl_used=avgdl_used,
            n_postings=st["n_postings"] + n_postings_delta,
            phases=clock.phases,
        )
        shutil.rmtree(stage, ignore_errors=True)
        return manifest

    def _finalize_manifests(
        self,
        m: dict,
        n_docs: int,
        total_tokens: int,
        avgdl_true: float,
        avgdl_used: float,
        n_postings: int,
        phases: dict[str, float],
    ) -> dict:
        m["compacted_epochs"] = sorted(m["epochs"], key=int)
        m["compacted"] = {
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "avgdl_used": avgdl_used,
            "n_postings": n_postings,
        }
        self._save(m)
        builder = IndexBuilder(self.spark, self.index_dir, self.n_partitions)
        builder._load_manifest()
        for stage in ("doc_stats", "corpus_stats", "postings", "segments", "term_stats"):
            builder._mark_stage(stage)
        builder.manifest["metrics"] = {
            "phase_seconds": phases,
            "n_docs": n_docs,
            "total_tokens": total_tokens,
            "n_postings": n_postings,
            "avgdl": avgdl_true,
            "avgdl_weights": avgdl_used,
            "n_epochs": len(m["epochs"]),
        }
        builder._save_manifest()
        return builder.manifest

    def _compact_full(self, m: dict) -> dict:
        spark = self.spark
        set_desc = spark.sparkContext.setJobDescription
        clock = B.PhaseClock()
        # read ONLY manifest-committed epochs: a partially-written epoch dir
        # whose manifest entry was never recorded (crash between the parquet
        # writes and _save) must not leak docs past the doc_id watermark
        eids = sorted(m["epochs"], key=int)
        set_desc("phase:stats — doc_stats merge write")
        doc_stats_dir = os.path.join(self.index_dir, "doc_stats")
        spark.read.parquet(*[os.path.join(self._epoch_dir(e), "doc_stats") for e in eids]).write.mode(
            "overwrite"
        ).parquet(doc_stats_dir)
        n_docs, total_tokens = self._epoch_totals(m, eids)
        avgdl = total_tokens / n_docs if n_docs else 0.0
        self._write_corpus_stats(n_docs, total_tokens, float(avgdl))
        clock.lap("stats")

        # the merge's ONE shuffle: every delta, with its docs' weight inputs
        # joined on, range-partitioned by (term, doc_id) and sorted, then
        # weighted and cut in one pass
        raw = spark.read.parquet(*[os.path.join(self._epoch_dir(e), "postings_raw") for e in eids])
        merged = self._joined_ranged(raw, spark.read.parquet(doc_stats_dir), n_docs)
        n_postings = self._cut_postings_segments(merged, avgdl, None, 0, self.index_dir)
        clock.lap("postings_segments")
        set_desc("phase:term_stats — dictionary + block-max meta")
        B.term_stats_with_block_meta(
            spark.read.parquet(os.path.join(self.index_dir, "segments"))
        ).write.mode("overwrite").parquet(os.path.join(self.index_dir, "term_stats"))
        clock.lap("term_stats")
        # the files a full compact leaves behind ARE the main tier: later
        # incremental appends beyond them form the mergeable delta tier
        m["tier_files"] = {a: self._list_parquet(a) for a in self._MERGE_ARTIFACTS}
        return self._finalize_manifests(
            m,
            n_docs=n_docs,
            total_tokens=total_tokens,
            avgdl_true=avgdl,
            avgdl_used=avgdl,
            n_postings=n_postings,
            phases=clock.phases,
        )
