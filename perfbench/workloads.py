"""The benchmark's closed-loop workloads, one client each.

Both workloads have the same shape, so every end-to-end metric means the
same thing on both.  Set-up starts Spark and builds a first index, which
absorbs JIT compilation, code generation and Python worker start-up.  The
measured phase indexes new turns and opens and warms the result.  A traced run then also runs seeded BM25 top-k queries against it,
one after another, for ``--seconds``, a few queries of every other kind
(tf-idf, WAND, role/tool-filtered BM25, Boolean and phrase), and standalone
timings of single layers.

* ``bulk_build``: the batch is a whole corpus, built in full (read ->
  prepare_transcripts -> build_index) into one single-file index,
  ``BUILD_REPS`` times, after a set-up build of another corpus of the same
  size.  The throughput is taken over all of them together, so one run
  measures a longer stretch of a host whose speed drifts.
* ``ingest_query``: the batch is one streaming epoch appended to an index
  built by an earlier epoch (``process_batch`` + incremental ``compact()``).
  Its vocabulary fits the driver dictionary, and the queries read a
  many-file tiered index.  Small batches are dominated by
  fixed per-job cost, so a bulk-build gain that adds per-job cost shows here
  as a loss, and so does a query gain that assumes one large file.

Every engine output is checked against the pure-Python oracle over the same
turns; the oracle is built once per run and kept out of every metric.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from . import gen
from .proc import PeakRss, process_tree, tree_cpu_seconds
from .trace import Tracer

K = 10
SCORE_TOL = 1e-6

# (turns, Zipf rank space) of each workload's batch, scaled so that a run,
# Spark start-up and set-up included, takes about a minute on 4 cores
BULK_TURNS, BULK_VOCAB = 2_000, 40_000
EPOCH_TURNS, EPOCH_VOCAB = 1_000, 30_000
# measured builds per bulk_build run
BUILD_REPS = 2
# traced runs: BM25 queries that warm the query path, the least number of
# BM25 queries measured, and the number measured of every other kind
WARM_QUERIES, MIN_QUERIES, KIND_QUERIES = 2, 8, 1

QUERY_KINDS = tuple(gen.QUERY_MIX)
# phases the default build path records in the manifest's phase_seconds
BUILD_PHASES = (
    "vocab_collect", "stats_collect", "postings_segments", "stats_write_join",
    "term_stats", "metrics",
)
END_TO_END = {
    "setup_s": "s",
    "build_turns_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit.  A layer
    a workload does not exercise reports 0."""
    units = {
        "session.start_s": "s",
        "sources.read_s": "s",
        "text.tokenize_s": "s",
        "text.tokens": "count",
        "text.query_preprocess_us": "us",
        "indexing.prepare_s": "s",
        "indexing.build_s": "s",
        **{f"indexing.phase.{p}_s": "s" for p in BUILD_PHASES},
        "indexing.jobs": "count",
        "indexing.stages": "count",
        "indexing.tasks": "count",
        "indexing.failed_tasks": "count",
        "indexing.postings_bytes": "bytes",
        "indexing.segments_bytes": "bytes",
        "indexing.n_postings": "count",
        "indexing.n_segment_blocks": "count",
        "indexing.n_terms": "count",
        "codec.encode_us_per_block": "us",
        "codec.decode_us_per_block": "us",
        "codec.bytes_per_posting": "bytes",
        "index.freshness_s": "s",
        "index.open_s": "s",
        "index.warm_s": "s",
        "index.dict_lookup_s": "s",
        "index.dict_job_bm25_s": "s",
    }
    for kind in QUERY_KINDS:
        for stat, unit in (
            ("n", "count"), ("p50_s", "s"), ("max_s", "s"), ("plan_s", "s"), ("job_s", "s"),
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("rows", "count"),
        ):
            units[f"querying.{kind}.{stat}"] = unit
    units.update({
        "wand.blocks_total": "count",
        "wand.blocks_pruned_ratio": "ratio",
        "wand.bytes_total": "bytes",
        "wand.bytes_decoded_ratio": "ratio",
        "wand.forced_prune_s": "s",
        "streaming.process_batch_s": "s",
        "streaming.compact_s": "s",
        "streaming.tier_merges": "count",
        "streaming.postings_files": "count",
        "streaming.bytes_written_per_text_byte": "ratio",
        "process.cpu_s": "s",
        "process.peak_rss_mb": "MB",
        "process.failed_tasks": "count",
        "stderr.warning_lines": "count",
        "trace.spans": "count",
        **{f"traced.{name}": unit for name, unit in END_TO_END.items()},
    })
    return units


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    """Bytes of the files under ``path`` that readers see: names starting
    with ``.`` or ``_`` (checksums, commit markers) are not index data."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d not in skip]
        total += sum(
            os.path.getsize(os.path.join(dirpath, f)) for f in filenames if not f.startswith((".", "_"))
        )
    return total


@contextmanager
def memoized_stemmer():
    """The oracle tokenizes every turn in pure Python and spends most of its
    time in the Porter2 stemmer.  Memoizing that pure function for the
    oracle build keeps it inside the run budget without changing a result;
    the original is restored before any engine call."""
    from searchengine_spark.text import tokenizer

    original = tokenizer.stem
    tokenizer.stem = functools.lru_cache(maxsize=None)(original)
    try:
        yield
    finally:
        tokenizer.stem = original


def topk_matches(got, ranking, k: int, allowed=None) -> bool:
    """Engine top-k rows against the oracle's full ranking, robust to ties:
    the score sequence must equal the oracle's top-k sequence, and every
    returned doc must carry its true score (and pass ``allowed``)."""
    truth = dict(ranking)
    want = [s for d, s in ranking if allowed is None or allowed(d)][:k]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (doc, score), expected in zip(got, want):
        if doc not in truth or (allowed is not None and not allowed(doc)):
            return False
        if abs(truth[doc] - score) > SCORE_TOL or abs(score - expected) > SCORE_TOL:
            return False
    return True


class Run:
    """State of one benchmark invocation: session, tracer, counters, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, tmp: str, t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tmp = tmp
        self.t_start = t_start
        self.tracer = Tracer(trace)
        self.peak = PeakRss()
        self.cpu0 = tree_cpu_seconds()
        self.cpu_s = 0.0
        self.oracle_s = 0.0  # oracle time, kept out of setup_s
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.text_bytes = 0
        self.manifest: dict = {}
        # the measured batches: turns in each, indexing wall times, and the
        # freshness of the last one
        self.batch_turns = 0
        self.index_times: list[float] = []
        self.fresh_s = 0.0
        self.index_bytes = 0
        self.queries: list[tuple] = []  # (kind, q, role, tool, rows, latency)
        self.layer: dict[str, float] = {}

    # -- plumbing ---------------------------------------------------------
    def start_session(self) -> None:
        from searchengine_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        self.tracer.spark = self.spark

    def finish(self) -> None:
        """Read the process-tree counters, then stop Spark and wait until
        the JVM and its Python workers have exited."""
        self.peak.sample()
        self.cpu_s = tree_cpu_seconds() - self.cpu0
        if self.spark is None:
            return
        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            jvm.wait(timeout=60)
        deadline = time.monotonic() + 30
        while len(process_tree()) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start - self.oracle_s
        self.peak.sample()

    def build_oracle(self, docs):
        from searchengine_spark.oracle import build_oracle_index

        t = time.perf_counter()
        with memoized_stemmer():
            oracle = build_oracle_index(docs)
        # tf-idf divides by each doc's L2 weight; memoize it on this instance
        oracle.l2_weight = functools.lru_cache(maxsize=None)(oracle.l2_weight)
        self.oracle_s += time.perf_counter() - t
        return oracle

    def add_to_oracle(self, oracle, docs) -> None:
        t = time.perf_counter()
        with memoized_stemmer():
            for doc_id, content in docs:
                oracle.add_document(doc_id, content)
        self.oracle_s += time.perf_counter() - t

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            sys.stderr.write(f"perfbench: {what} raised\n{traceback.format_exc()}")
            return None

    def fail(self, what: str) -> None:
        self.failed += 1
        sys.stderr.write(f"perfbench: {what} differs from the oracle\n")

    def write_input(self, cols: dict, name: str) -> str:
        path = os.path.join(self.tmp, name)
        self.text_bytes += gen.write_parquet(cols, path)
        return path

    def measure_batch(self, turns: int, index_fn, path: str | None):
        """One measured batch: ``index_fn()`` adds ``turns`` new turns to an
        index; with a ``path``, the index there is then opened and warmed.
        Returns (what ``index_fn`` returned, index or None)."""
        t = time.perf_counter()
        result = index_fn()
        self.index_times.append(time.perf_counter() - t)
        idx = None
        if path is not None:
            idx = self.open_index(path)
            self.fresh_s = time.perf_counter() - t
        self.batch_turns = turns
        self.peak.sample()
        return result, idx

    # -- engine calls ------------------------------------------------------
    def build(self, src: str, out_dir: str, op: str = "build") -> dict:
        """read -> prepare_transcripts -> build_index; returns the manifest."""
        from searchengine_spark.indexing.build import build_index, prepare_transcripts
        from searchengine_spark.sources.iceberg import read_transcripts

        tr = self.tracer
        with tr.op(op):
            with tr.span("sources.read"):
                raw = read_transcripts(self.spark, src)
            with tr.span("indexing.prepare"):
                docs = prepare_transcripts(raw)
            with tr.span("indexing.build"):
                self.manifest = build_index(self.spark, docs, out_dir)
        return self.manifest

    def open_index(self, path: str):
        from searchengine_spark.indexing.index import SparkIndex

        tr = self.tracer
        with tr.op("open"):
            with tr.span("index.open"):
                idx = SparkIndex(self.spark, path)
            with tr.span("index.warm"):
                idx.warm()
        return idx

    def query(self, idx, kind: str, q: str, role=None, tool=None, op: str = "query"):
        """One query: search call to top-k rows on the driver."""
        from searchengine_spark.querying.boolean import boolean_search
        from searchengine_spark.querying.ranked import ranked_search, role_tool_filter
        from searchengine_spark.querying.wand import ranked_search_wand

        tr = self.tracer
        with tr.op(f"{op}.{kind}"):
            t = time.perf_counter()
            with tr.span("querying.plan"):
                if kind in ("bm25", "tfidf"):
                    df = ranked_search(idx, q, mode=kind, k=K)
                elif kind == "wand":
                    df = ranked_search_wand(idx, q, mode="bm25", k=K)
                elif kind == "filtered":
                    df = ranked_search(idx, q, k=K, doc_filter=role_tool_filter(idx, role=role, tool=tool))
                else:
                    df = boolean_search(idx, q)
            with tr.span("querying.job"):
                rows = df.collect()
            latency = time.perf_counter() - t
        return [tuple(r) for r in rows], latency

    def warm_queries(self, idx, stream) -> None:
        """Set-up queries that compile the query path and measure nothing."""
        for args in [a for a in stream if a[0] == "bm25"][:WARM_QUERIES]:
            self.query(idx, *args, op="warm")

    def run_queries(self, idx, stream, kinds=("bm25",), seconds: float = 0.0, least: int = MIN_QUERIES):
        """Closed loop over the queries of ``kinds`` in ``stream`` for
        ``seconds``, and at least ``least`` of them."""
        done = []
        until = time.perf_counter() + seconds
        for kind, q, role, tool in (a for a in stream if a[0] in kinds):
            if len(done) >= least and time.perf_counter() >= until:
                break
            res = self.attempt(f"{kind} query {q!r}", self.query, idx, kind, q, role, tool)
            if res is not None:
                done.append((kind, q, role, tool, *res))
        self.queries.extend(done)
        return done

    def traced_queries(self, idx, stream) -> list[tuple]:
        """Traced runs only: BM25 queries for ``seconds``, then KIND_QUERIES
        of every other kind, each kind after one query that warms its path."""
        if not self.tracer.enabled:
            return []
        self.warm_queries(idx, stream)
        done = self.run_queries(idx, stream, seconds=self.seconds)
        for kind in QUERY_KINDS:
            if kind != "bm25":
                mine = [a for a in stream if a[0] == kind]
                self.query(idx, *mine[0], op="warm")
                done += self.run_queries(idx, mine[1:], kinds=(kind,), least=KIND_QUERIES)
        return done

    # -- output checks -----------------------------------------------------
    def check_queries(self, oracle, done, meta) -> None:
        """``meta[doc_id]`` is the doc's (role, tool)."""
        for kind, q, role, tool, rows, _ in done:
            if kind in ("boolean", "phrase"):
                ok = {r[0] for r in rows} == oracle.search_boolean(q)
            else:
                allowed = None
                if kind == "filtered":
                    def allowed(d, role=role, tool=tool):
                        return (role is None or meta[d][0] == role) and (tool is None or meta[d][1] == tool)
                ok = topk_matches(rows, oracle.rank(q, "tfidf" if kind == "tfidf" else "bm25"), K, allowed)
            if not ok:
                self.fail(f"{kind} query {q!r}")

    def check_index(self, idx, oracle, sample_terms: list[str]) -> bool:
        """Corpus statistics and a sample of dictionary rows against the oracle."""
        from pyspark.sql import functions as F

        if (idx.n_docs, idx.total_tokens) != (oracle.n_docs, oracle.total_tokens):
            return False
        rows = idx.term_stats.filter(F.col("term").isin(sample_terms)).select("term", "df", "cf").collect()
        got = {r["term"]: (r["df"], r["cf"]) for r in rows}
        return got == {t: (oracle.df(t), oracle.cf(t)) for t in sample_terms}

    # -- metrics ------------------------------------------------------------
    def record_build(self, path: str) -> None:
        m = self.manifest["metrics"]
        phases = m.get("phase_seconds") or {}
        for p in BUILD_PHASES:
            self.layer[f"indexing.phase.{p}_s"] = phases.get(p, 0.0)
        self.layer.update({
            "indexing.postings_bytes": dir_bytes(os.path.join(path, "postings")),
            "indexing.segments_bytes": dir_bytes(os.path.join(path, "segments")),
            "indexing.n_postings": m["n_postings"],
            "indexing.n_segment_blocks": m["n_segment_blocks"],
        })

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "build_turns_per_s": self.batch_turns * len(self.index_times) / sum(self.index_times)
            if self.index_times else 0.0,
            "index_bytes_per_text_byte": self.index_bytes / self.text_bytes,
        }

    def per_layer(self, e2e: dict[str, float], warning_lines: int) -> dict[str, float]:
        tr = self.tracer
        out = dict.fromkeys(per_layer_units(), 0.0)
        for metric, span in (
            ("session.start_s", "session.start"),
            ("sources.read_s", "sources.read"),
            ("indexing.prepare_s", "indexing.prepare"),
            ("indexing.build_s", "indexing.build"),
            ("index.open_s", "index.open"),
            ("index.warm_s", "index.warm"),
            ("streaming.process_batch_s", "streaming.process_batch"),
            ("streaming.compact_s", "streaming.compact"),
        ):
            # the last such span is the measured batch's
            out[metric] = (tr.self_seconds_of(span) or [0.0])[-1]
        counts = tr.op_counts("build")
        builds = sum(s.name == "build" and s.parent is None for s in tr.spans)
        for c in ("jobs", "stages", "tasks", "failed_tasks"):
            out[f"indexing.{c}"] = counts.get(c, 0) / builds if builds else 0.0
        for kind in QUERY_KINDS:
            mine = [q for q in self.queries if q[0] == kind]
            p = f"querying.{kind}."
            out[p + "n"] = len(mine)
            out[p + "p50_s"] = median([q[5] for q in mine])
            out[p + "max_s"] = max((q[5] for q in mine), default=0.0)
            out[p + "rows"] = median([len(q[4]) for q in mine])
            measured = [s for s in tr.spans if s.name == f"query.{kind}" and s.parent is None]
            out[p + "plan_s"] = median(tr.durations("querying.plan", parent=f"query.{kind}"))
            out[p + "job_s"] = median(tr.durations("querying.job", parent=f"query.{kind}"))
            counts = tr.op_counts(f"query.{kind}")
            for c in ("jobs", "stages", "tasks"):
                out[p + c] = counts.get(c, 0) / len(measured) if measured else 0.0
        out.update(self.layer)
        out["index.freshness_s"] = self.fresh_s
        out["process.cpu_s"] = self.cpu_s
        out["process.peak_rss_mb"] = self.peak.mb
        out["process.failed_tasks"] = tr.op_counts("").get("failed_tasks", 0)
        out["stderr.warning_lines"] = warning_lines
        out["trace.spans"] = len(tr.spans)
        out.update({f"traced.{name}": value for name, value in e2e.items()})
        return out

    # -- traced-only diagnostics, after the measured phase -------------------
    def diagnose(self, idx, path: str, src: str) -> None:
        """Standalone layer timings that the measured loop cannot separate
        from the engine calls around them.  Traced runs only."""
        if not self.tracer.enabled:
            return
        from pyspark.sql import functions as F

        from searchengine_spark.indexing.build import prepare_transcripts, release_docid_cache_of
        from searchengine_spark.indexing.codec import decode_block, encode_block
        from searchengine_spark.indexing.index import SparkIndex
        from searchengine_spark.querying.ranked import ranked_search
        from searchengine_spark.querying.wand import ranked_search_wand
        from searchengine_spark.sources.iceberg import read_transcripts
        from searchengine_spark.text import preprocess_boolean_query, preprocess_ranked_query
        from searchengine_spark.text.spark_tokenize import tokenize

        tr = self.tracer
        with tr.op("diag.tokenize"):
            docs = prepare_transcripts(read_transcripts(self.spark, src))
            with tr.span("text.tokenize"):
                t = time.perf_counter()
                self.layer["text.tokens"] = tokenize(docs, text_col="text", id_col="doc_id").count()
                self.layer["text.tokenize_s"] = time.perf_counter() - t
            release_docid_cache_of(docs)

        qs = [q[1] for q in self.queries]
        t = time.perf_counter()
        for q in qs:
            preprocess_ranked_query(q)
            preprocess_boolean_query(q)
        self.layer["text.query_preprocess_us"] = (time.perf_counter() - t) / len(qs) * 1e6

        blobs = [
            bytes(r[0])
            for r in idx.segments.filter(F.col("n_postings") == 128).select("postings_bin").limit(256).collect()
        ]
        if blobs:
            t = time.perf_counter()
            decoded = [decode_block(b) for b in blobs]
            self.layer["codec.decode_us_per_block"] = (time.perf_counter() - t) / len(blobs) * 1e6
            t = time.perf_counter()
            encoded = [encode_block(*d) for d in decoded]
            self.layer["codec.encode_us_per_block"] = (time.perf_counter() - t) / len(blobs) * 1e6
            self.layer["codec.bytes_per_posting"] = sum(map(len, blobs)) / (128 * len(blobs))
            if encoded != blobs:
                self.fail("codec round trip")

        # An index opened without warm() keeps its dictionary off the
        # driver, as warm() does for vocabularies above its driver limit
        # (DICT_DRIVER_CACHE_MAX_TERMS): each lookup, and so each ranked
        # query, pays a Spark job.
        ranked = [q[1] for q in self.queries if q[0] == "bm25"][:3]
        cold = SparkIndex(self.spark, path)
        lookups, bm25 = [], []
        for q in ranked:
            with tr.op("diag.dict_lookup"):
                t = time.perf_counter()
                cold.term_stats_for(list(set(preprocess_ranked_query(q))))
                lookups.append(time.perf_counter() - t)
            with tr.op("diag.dict_job_bm25"):
                t = time.perf_counter()
                ranked_search(cold, q, k=K).collect()
                bm25.append(time.perf_counter() - t)
        self.layer["index.dict_lookup_s"] = median(lookups)
        self.layer["index.dict_job_bm25_s"] = median(bm25)

        # WAND with its cost gate off, so the pruned path runs, with the
        # pruning counters from its public ``stats`` dict
        totals: dict[str, int] = defaultdict(int)
        times = []
        for q in ranked:
            stats: dict = {}
            with tr.op("diag.wand_forced"):
                t = time.perf_counter()
                ranked_search_wand(idx, q, k=K, min_blocks_to_prune=0, stats=stats).collect()
                times.append(time.perf_counter() - t)
            for key in ("blocks_total", "blocks_decoded", "bytes_total", "bytes_decoded"):
                totals[key] += stats.get(key, 0)
        self.layer["wand.forced_prune_s"] = median(times)
        self.layer["wand.blocks_total"] = totals["blocks_total"]
        self.layer["wand.bytes_total"] = totals["bytes_total"]
        if totals["blocks_total"]:
            self.layer["wand.blocks_pruned_ratio"] = 1 - totals["blocks_decoded"] / totals["blocks_total"]
        if totals["bytes_total"]:
            self.layer["wand.bytes_decoded_ratio"] = totals["bytes_decoded"] / totals["bytes_total"]


class StreamingAvgdl:
    """Checks the avgdl a streaming index weights its documents with.

    A full compaction weights with the true avgdl.  An incremental one keeps
    the avgdl of the last full compaction while the true avgdl has drifted
    from it by less than the compaction tolerance, and recompacts in full
    otherwise.  The manifest records the avgdl in use as ``avgdl_weights``.
    """

    TOLERANCE = 0.05  # StreamingIndexer.compact's default avgdl_tolerance

    def __init__(self):
        self.last_full: float | None = None

    def check(self, weights_avgdl: float, true_avgdl: float) -> bool:
        if abs(weights_avgdl - true_avgdl) <= SCORE_TOL * true_avgdl:
            self.last_full = true_avgdl  # weighted with the true avgdl: a full compaction
            return True
        return (
            self.last_full is not None
            and abs(weights_avgdl - self.last_full) <= SCORE_TOL * self.last_full
            and abs(true_avgdl - weights_avgdl) / weights_avgdl <= self.TOLERANCE
        )


def streaming_oracle():
    """Oracle whose BM25 uses the avgdl the streaming index weights its
    documents with, once ``StreamingAvgdl`` has accepted that value."""
    from searchengine_spark.oracle.oracle import OracleIndex

    class StreamingOracle(OracleIndex):
        weights_avgdl: float | None = None

        @property
        def true_avgdl(self) -> float:
            return super().avgdl

        @property
        def avgdl(self) -> float:
            return self.weights_avgdl if self.weights_avgdl is not None else super().avgdl

    return StreamingOracle()


def _doc_meta(cols: dict) -> list[tuple[str, str | None]]:
    """(role, tool) per doc_id, in the engine's doc-id order."""
    order = sorted(range(len(cols["text"])), key=lambda i: (cols["conv_id"][i], cols["turn_idx"][i]))
    return [(cols["role"][i], cols["tool"][i]) for i in order]


def _bands(oracle):
    return gen.term_bands({t: len(p) for t, p in oracle.postings.items()})


def _dictionary_sample(oracle, n: int = 200) -> list[str]:
    """Terms spread over the head, torso and tail of the oracle's dictionary."""
    return [t for band in _bands(oracle) for t in band[:: max(1, 3 * len(band) // n)]][:n]


def _stream(seed, oracle, cols, n: int = 1000):
    words, phrases = gen.surface_samples(seed, cols, 100)
    return gen.query_stream(seed, n, _bands(oracle), words, phrases)


# --- workloads ----------------------------------------------------------------


def bulk_build(run: Run) -> None:
    cols = gen.transcripts(run.seed, BULK_TURNS, BULK_VOCAB)
    src = run.write_input(cols, "turns.parquet")
    oracle = run.build_oracle(gen.stable_docs(cols))
    sample = _dictionary_sample(oracle)
    n_postings = sum(len(p) for p in oracle.postings.values())
    warmup = os.path.join(run.tmp, "warmup.parquet")
    gen.write_parquet(gen.transcripts([run.seed, 1], BULK_TURNS, BULK_VOCAB), warmup)
    run.start_session()
    run.build(warmup, os.path.join(run.tmp, "warmup"), op="warmup")
    run.mark_setup_done()

    for rep in range(BUILD_REPS):
        out = os.path.join(run.tmp, f"index{rep}")
        res = run.attempt(
            f"build {rep}", run.measure_batch, BULK_TURNS, functools.partial(run.build, src, out),
            out if rep == BUILD_REPS - 1 else None,  # open only the last index
        )
        if res is None:
            return
        manifest, idx = res
        if manifest["metrics"]["n_postings"] != n_postings:
            run.fail(f"build {rep}")
    run.index_bytes = dir_bytes(out)
    run.record_build(out)
    if not run.check_index(idx, oracle, sample):
        run.fail("build index statistics")
    run.check_queries(oracle, run.traced_queries(idx, _stream(run.seed, oracle, cols)), _doc_meta(cols))
    run.layer["indexing.n_terms"] = len(oracle.postings)
    run.diagnose(idx, out, src)


def ingest_query(run: Run) -> None:
    from searchengine_spark.sources.iceberg import read_transcripts
    from searchengine_spark.streaming.ingest import StreamingIndexer

    oracle = streaming_oracle()
    avgdl = StreamingAvgdl()
    meta: list[tuple[str, str | None]] = []
    out = os.path.join(run.tmp, "index")
    tr = run.tracer

    def epoch(e: int):
        """Epoch ``e``'s turns, and a DataFrame reading them."""
        cols = gen.transcripts([run.seed, e], EPOCH_TURNS, EPOCH_VOCAB, first_conv=e * EPOCH_TURNS)
        return cols, read_transcripts(run.spark, run.write_input(cols, f"epoch{e}.parquet"))

    def ingest(e: int, batch) -> dict:
        """Hand the batch to the indexer and compact; returns the manifest."""
        with tr.op("ingest"):
            with tr.span("streaming.process_batch"):
                indexer.process_batch(batch, e)
            with tr.span("streaming.compact"):
                return indexer.compact()

    def catch_up(e: int, cols, manifest: dict) -> None:
        """Add the epoch to the oracle; check the avgdl the index used."""
        run.add_to_oracle(oracle, [(len(meta) + d, c) for d, c in gen.stable_docs(cols)])
        meta.extend(_doc_meta(cols))
        weights = manifest["metrics"]["avgdl_weights"]
        if not avgdl.check(weights, oracle.true_avgdl):
            run.fail(f"epoch {e} avgdl_weights {weights} (true avgdl {oracle.true_avgdl})")
        oracle.weights_avgdl = weights

    run.start_session()
    indexer = StreamingIndexer(run.spark, out)
    # epoch 0 is the first, full compaction; epoch 1, the measured one, is
    # incremental
    cols, batch = epoch(0)
    catch_up(0, cols, ingest(0, batch))
    run.mark_setup_done()

    cols, batch = epoch(1)
    res = run.attempt("epoch 1", run.measure_batch, EPOCH_TURNS, functools.partial(ingest, 1, batch), out)
    if res is None:
        return
    manifest, idx = res
    catch_up(1, cols, manifest)
    run.check_queries(oracle, run.traced_queries(idx, _stream([run.seed, 1], oracle, cols)), meta)
    if not run.check_index(idx, oracle, _dictionary_sample(oracle)):
        run.fail("epoch 1 index statistics")

    run.index_bytes = dir_bytes(out, skip=("deltas",))
    with open(os.path.join(out, "stream_manifest.json")) as fh:
        run.layer["streaming.tier_merges"] = json.load(fh).get("merge_seq", 0)
    run.layer["streaming.postings_files"] = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(out, "postings")) for f in fs
    )
    run.layer["streaming.bytes_written_per_text_byte"] = dir_bytes(out) / run.text_bytes
    run.layer["indexing.n_terms"] = len(oracle.postings)
    run.diagnose(idx, out, os.path.join(run.tmp, "epoch1.parquet"))


WORKLOADS = {"bulk_build": bulk_build, "ingest_query": ingest_query}
