"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operators (SURVEY.md §2) over the
testdata ``documents`` / ``embeddings`` tables; ``oracle_sql()`` provides
exact ANSI-SQL twins (searchengine_spark/duck_oracle.py) for the DuckDB gate.
Every index gate (postings, stats, Boolean, ranked, vocabulary, spelling)
queries the production build: one index per corpus, written by build_index
and read back from parquet (``_persisted_index``), plus the dist-built twin
behind the ``*_dist`` gates.  The full transcript-schema engine (resume,
streaming, rank-identity vs the single-node oracle) is exercised by
tests/ — this file is the SQL-checkable surface.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark import duck_oracle as dk
from searchengine_spark.pipeline import (
    cosine_topk,
    dedup_exact,
    dedup_minhash,
    fingerprint,
    lang_id,
    lsh_cosine_topk,
    multimodal_meta,
    near_dup_embedding,
    ngram_jaccard_pairs,
    quality_score,
    simhash_kernel,
    token_count,
)
from searchengine_spark.querying.boolean import boolean_search
from searchengine_spark.querying.ranked import ranked_search
from searchengine_spark.querying.wand import ranked_search_wand
from searchengine_spark.session import ensure_package_on_workers
from searchengine_spark.text.spark_tokenize import tokenize
from searchengine_spark.text.spelling import spell_suggestions

SPELL_WORDS = ["serch", "qery", "documant"]

BOOL_AND_Q = "hash join"
BOOL_AND_NOT_Q = "hash -join"
BOOL_OR_Q = "merge + window"
BOOL_PHRASE_Q = '"table scan"'
BOOL_MIXED_Q = 'merge + "table scan" -hash'
RANKED_Q = "hash join spark"


# (kind, applicationId, absolute sf_dir) -> (built index, its directory)
_GATE_INDEXES: dict[tuple[str, str, str], tuple[object, str]] = {}
_GATE_SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")


def _drop_gate_index(key) -> None:
    _, out = _GATE_INDEXES.pop(key)
    shutil.rmtree(out, ignore_errors=True)


@atexit.register
def _drop_gate_indexes() -> None:
    for key in list(_GATE_INDEXES):
        _drop_gate_index(key)


def _gate_index(spark: SparkSession, sf_dir: str, kind: str, build):
    """Build once per (session, corpus): ``build(spark, sf_dir, out)``
    writes an index under ``.scratch/gate_<kind>_<pid>_<basename>_<hash>``
    and returns its query handle.  The key is the session's applicationId
    (a freed id(spark) can be reused by a new session); the directory name
    hashes the absolute sf_dir, so two corpora sharing a basename never
    overwrite each other.  Entries of other applications are evicted with
    their directories (their session is gone), and the rest are removed
    when the interpreter exits."""
    ensure_package_on_workers(spark)
    sf_abs = os.path.abspath(sf_dir)
    app_id = spark.sparkContext.applicationId
    key = (kind, app_id, sf_abs)
    if key not in _GATE_INDEXES:
        for stale in [k for k in _GATE_INDEXES if k[1] != app_id]:
            _drop_gate_index(stale)
        tag = os.path.basename(os.path.normpath(sf_abs))
        path_hash = hashlib.md5(sf_abs.encode()).hexdigest()[:8]
        out = os.path.join(_GATE_SCRATCH, f"gate_{kind}_{os.getpid()}_{tag}_{path_hash}")
        shutil.rmtree(out, ignore_errors=True)
        _GATE_INDEXES[key] = (build(spark, sf_dir, out), out)
    return _GATE_INDEXES[key][0]


def _build_index(spark: SparkSession, sf_dir: str, out: str):
    from searchengine_spark.indexing.build import build_index
    from searchengine_spark.indexing.index import SparkIndex

    build_index(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"), out)
    return SparkIndex(spark, out)


def _build_index_dist(spark: SparkSession, sf_dir: str, out: str):
    from searchengine_spark.indexing import build as bmod

    orig = bmod.VOCAB_ENCODE_MAX
    bmod.VOCAB_ENCODE_MAX = 1  # force the distributed route plan
    try:
        return _build_index(spark, sf_dir, out)
    finally:
        bmod.VOCAB_ENCODE_MAX = orig


def _build_embedding_index(spark: SparkSession, sf_dir: str, out: str):
    from searchengine_spark.pipeline.embedding_index import build_embedding_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return build_embedding_index(spark, emb, out, n_planes=4, n_tables=8, seed=42)


def _persisted_index(spark: SparkSession, sf_dir: str):
    """The index every index gate queries: the production build path with
    no doc ids assigned (documents carry doc_id) — build_index's one
    producer (fused tokenize+group kernel -> one token-total collect ->
    driver route plan -> planned route shuffle of posting rows -> postings
    + varbyte segments sink -> parquet artifacts), read back as a
    SparkIndex.  So the gates check the pipeline a build runs, against the
    DuckDB oracle."""
    return _gate_index(spark, sf_dir, "index", _build_index)


def _persisted_index_dist(spark: SparkSession, sf_dir: str):
    """Index built through the DISTRIBUTED route plan
    (indexing/build_dist.py _dist_plan — per-term totals kept in Spark,
    distributed contiguous-range plan, hot slice broadcast and cold tail
    joined, no driver vocabulary).  In production it engages above
    VOCAB_ENCODE_MAX (1.5M terms); the gate corpora are tiny, so the cutoff
    is lowered around the build — the same forcing the parity tests use
    (tests/test_dist_build.py) — making the over-cutoff plan's artifacts
    oracle-checked by the driver, not just pytest-checked."""
    return _gate_index(spark, sf_dir, "dindex", _build_index_dist)


def _persisted_embedding_index(spark: SparkSession, sf_dir: str):
    """Build-once LSH embedding index (pipeline/embedding_index.py): the
    signature pass runs at build time and is written as a parquet artifact
    (bucket columns materialized at ingest); gates built on this verify the
    persisted candidate-generation path against the same DuckDB oracle as
    the in-session queries."""
    return _gate_index(spark, sf_dir, "eindex", _build_embedding_index)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_package_on_workers(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_package_on_workers(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- core engine queries ----------------------------------------------------
def q_tokenize(spark, sf_dir):
    return tokenize(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", F.col("position").cast("long").alias("position"), "term"
    )


def q_postings(spark, sf_dir):
    return _persisted_index(spark, sf_dir).postings.select(
        "term",
        "doc_id",
        "tf",
        F.element_at("positions", 1).cast("long").alias("first_pos"),
        F.element_at("positions", -1).cast("long").alias("last_pos"),
    )


def q_term_stats(spark, sf_dir):
    return _persisted_index(spark, sf_dir).term_stats.select("term", "df", "cf")


def q_doc_stats(spark, sf_dir):
    return _persisted_index(spark, sf_dir).doc_stats.select(
        "doc_id", "doc_len", F.round("l2_weight", 4).alias("l2_r")
    )


def q_corpus_stats(spark, sf_dir):
    return _persisted_index(spark, sf_dir).corpus_stats.select(
        "n_docs", "total_tokens", F.round("avgdl", 4).alias("avgdl_r")
    )


def _bool(query):
    def run(spark, sf_dir):
        return boolean_search(_persisted_index(spark, sf_dir), query)

    return run


def _ranked(query, mode, lang_filter=None):
    def run(spark, sf_dir):
        doc_filter = None
        if lang_filter is not None:
            doc_filter = _docs(spark, sf_dir).filter(F.col("lang") == lang_filter).select("doc_id")
        return ranked_search(
            _persisted_index(spark, sf_dir),
            query,
            mode=mode,
            k=10,
            doc_filter=doc_filter,
            round_scores=4,
        )

    return run


# --- training-data ops -------------------------------------------------------
def q_token_count(spark, sf_dir):
    return token_count(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir))


def q_lang_id_ngram(spark, sf_dir):
    # Cavnar-Trenkle trigram classifier (T9 functional closure; the
    # reference's langdetect is absent in-container).  Production path is
    # the zero-shuffle Arrow kernel; tested bit-identical to the
    # expression plan the SQL twin mirrors.
    from searchengine_spark.pipeline import lang_id_ngram

    return lang_id_ngram(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


def q_tokenize_spanish_lite(spark, sf_dir):
    # T8 end-to-end: registry dispatch -> Arrow lemma kernel (built-in
    # rule-based Spanish lemmatizer, text/pipelines.py).  The DuckDB twin
    # implements the SAME ordered suffix rules independently as SQL CASE
    # expressions — a genuine cross-check, not an output-copied lookup.
    from searchengine_spark.text.pipelines import tokenize_language

    return tokenize_language(_docs(spark, sf_dir), "spanish-lite").select(
        "doc_id", F.col("position").cast("long").alias("position"), "term"
    )


def q_dedup_exact(spark, sf_dir):
    return dedup_exact(_docs(spark, sf_dir))


def q_dedup_minhash(spark, sf_dir):
    return dedup_minhash(_docs(spark, sf_dir), n_hashes=12, band_size=3)


def q_dedup_simhash(spark, sf_dir):
    # production path: numpy mapInPandas kernel (zero shuffle); the DuckDB
    # twin mirrors the pure-expression plan simhash(), which is tested
    # bit-identical to the kernel in tests/test_dedup_ops.py
    return simhash_kernel(_docs(spark, sf_dir), bits=32)


def q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5, max_shingle_df=100)


def q_near_dup_embedding(spark, sf_dir):
    # testdata embeddings are near-orthogonal (max pairwise cos ~0.48), so the
    # "near-dup" boundary for the contract corpus is 0.4 — non-vacuous at every
    # SF.  LSH-bucketed candidates + exact rescore; the oracle twin inlines
    # the identical hyperplanes so the candidate sets match exactly.
    # dim=64 pinned exactly like the oracle twin (skips the width-probe job)
    return near_dup_embedding(
        _embeddings(spark, sf_dir), threshold=0.4, n_planes=4, n_tables=8, seed=42, dim=64
    )


def q_near_dup_embedding_persisted(spark, sf_dir):
    # same parameters as q_near_dup_embedding, but candidates come from the
    # PERSISTED bucket artifact (signatures read back from parquet)
    return _persisted_embedding_index(spark, sf_dir).near_dups(threshold=0.4)


def q_ann_lsh_topk_persisted(spark, sf_dir):
    return _persisted_embedding_index(spark, sf_dir).topk(query_vec_id=0, k=10)


def q_multimodal_meta(spark, sf_dir):
    return multimodal_meta(_docs(spark, sf_dir))


def q_multimodal_decode(spark, sf_dir):
    # real header parsing: synthesize PNG/WAV/raw payloads from the docs,
    # parse the bytes back; twin derives expectations arithmetically
    from searchengine_spark.pipeline import multimodal_decode

    return multimodal_decode(_docs(spark, sf_dir))


def q_spell_correct(spark, sf_dir):
    terms = _persisted_index(spark, sf_dir).term_stats.select("term")
    return spell_suggestions(terms, SPELL_WORDS, top_n=5)


def q_vocabulary(spark, sf_dir):
    return _persisted_index(spark, sf_dir).term_stats.select("term").distinct().orderBy("term")


def q_ranked_bm25_wand(spark, sf_dir):
    # runs over the PERSISTED index: varbyte block-max segments read back
    # from parquet, so the gate exercises codec + segment metadata too
    return ranked_search_wand(
        _persisted_index(spark, sf_dir), RANKED_Q, mode="bm25", k=10, round_scores=4
    )


def q_ranked_bm25_persisted(spark, sf_dir):
    # the production build path (the build + parquet read-back); kept
    # as its own gate key, though ranked_bm25 now queries the same index
    return ranked_search(_persisted_index(spark, sf_dir), RANKED_Q, mode="bm25", k=10, round_scores=4)


def q_postings_dist(spark, sf_dir):
    # B1-B4 through the DISTRIBUTED route plan (build_dist.py): the
    # over-cutoff plan's postings artifact must hash-match the same DuckDB
    # oracle as the driver-planned build's postings
    return _persisted_index_dist(spark, sf_dir).postings.select(
        "term",
        "doc_id",
        "tf",
        F.element_at("positions", 1).cast("long").alias("first_pos"),
        F.element_at("positions", -1).cast("long").alias("last_pos"),
    )


def q_ranked_bm25_dist(spark, sf_dir):
    # K2/K4/K5 served from the dist-built artifacts (read-back + ranked)
    return ranked_search(
        _persisted_index_dist(spark, sf_dir), RANKED_Q, mode="bm25", k=10, round_scores=4
    )


def q_bool_phrase_persisted(spark, sf_dir):
    # positions arrays produced by the numpy kernel, read back from parquet
    return boolean_search(_persisted_index(spark, sf_dir), BOOL_PHRASE_Q)


def q_matches_mixed(spark, sf_dir):
    # Q7 scan-side predicate evaluation (phrase approximated as AND)
    from searchengine_spark.querying.boolean import matches_search

    return matches_search(_persisted_index(spark, sf_dir), BOOL_MIXED_Q)


def q_ann_cosine_topk(spark, sf_dir):
    return cosine_topk(_embeddings(spark, sf_dir), query_vec_id=0, k=10)


def q_ann_lsh_topk(spark, sf_dir):
    return lsh_cosine_topk(
        _embeddings(spark, sf_dir), query_vec_id=0, k=10, n_planes=4, n_tables=8, seed=42
    )


# --- driver contract ----------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over sf0.001 documents."""
    return _ranked(RANKED_Q, "bm25")(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tokenize": q_tokenize,
        "postings": q_postings,
        "term_stats": q_term_stats,
        "doc_stats": q_doc_stats,
        "corpus_stats": q_corpus_stats,
        "bool_and": _bool(BOOL_AND_Q),
        "bool_and_not": _bool(BOOL_AND_NOT_Q),
        "bool_or": _bool(BOOL_OR_Q),
        "bool_phrase": _bool(BOOL_PHRASE_Q),
        "bool_mixed": _bool(BOOL_MIXED_Q),
        "matches_mixed": q_matches_mixed,
        "ranked_bm25": _ranked(RANKED_Q, "bm25"),
        "ranked_tfidf": _ranked(RANKED_Q, "tfidf"),
        "ranked_bm25_filtered": _ranked(RANKED_Q, "bm25", lang_filter="en"),
        "ranked_bm25_wand": q_ranked_bm25_wand,
        "ranked_bm25_persisted": q_ranked_bm25_persisted,
        "bool_phrase_persisted": q_bool_phrase_persisted,
        "postings_dist": q_postings_dist,
        "ranked_bm25_dist": q_ranked_bm25_dist,
        "vocabulary": q_vocabulary,
        "spell_correct": q_spell_correct,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "lang_id_ngram": q_lang_id_ngram,
        "fingerprint": q_fingerprint,
        "tokenize_spanish_lite": q_tokenize_spanish_lite,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "near_dup_embedding": q_near_dup_embedding,
        "near_dup_embedding_persisted": q_near_dup_embedding_persisted,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_decode": q_multimodal_decode,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_topk_persisted": q_ann_lsh_topk_persisted,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "tokenize": dk.sql_tokenize(),
        "postings": dk.sql_postings(),
        "term_stats": dk.sql_term_stats(),
        "doc_stats": dk.sql_doc_stats(),
        "corpus_stats": dk.sql_corpus_stats(),
        "bool_and": dk.sql_boolean(BOOL_AND_Q),
        "bool_and_not": dk.sql_boolean(BOOL_AND_NOT_Q),
        "bool_or": dk.sql_boolean(BOOL_OR_Q),
        "bool_phrase": dk.sql_boolean(BOOL_PHRASE_Q),
        "bool_mixed": dk.sql_boolean(BOOL_MIXED_Q),
        "matches_mixed": dk.sql_matches(BOOL_MIXED_Q),
        "ranked_bm25": dk.sql_ranked(RANKED_Q, "bm25"),
        "ranked_tfidf": dk.sql_ranked(RANKED_Q, "tfidf"),
        "ranked_bm25_filtered": dk.sql_ranked(RANKED_Q, "bm25", lang_filter="en"),
        "ranked_bm25_wand": dk.sql_ranked(RANKED_Q, "bm25"),
        "ranked_bm25_persisted": dk.sql_ranked(RANKED_Q, "bm25"),
        "bool_phrase_persisted": dk.sql_boolean(BOOL_PHRASE_Q),
        "postings_dist": dk.sql_postings(),
        "ranked_bm25_dist": dk.sql_ranked(RANKED_Q, "bm25"),
        "vocabulary": dk.sql_vocabulary(),
        "spell_correct": dk.sql_spell_correct(SPELL_WORDS, top_n=5),
        "token_count": dk.sql_token_count(),
        "quality_score": dk.sql_quality_score(),
        "lang_id": dk.sql_lang_id(),
        "lang_id_ngram": dk.sql_lang_id_ngram(),
        "fingerprint": dk.sql_fingerprint(),
        "tokenize_spanish_lite": dk.sql_tokenize_spanish_lite(),
        "dedup_exact": dk.sql_dedup_exact(),
        "dedup_minhash": dk.sql_dedup_minhash(12, 3),
        "dedup_simhash": dk.sql_simhash(32),
        "ngram_jaccard": dk.sql_ngram_jaccard(0.5, 100),
        "near_dup_embedding": dk.sql_near_dup_embedding(0.4, 4, 8, 42, 64),
        "near_dup_embedding_persisted": dk.sql_near_dup_embedding(0.4, 4, 8, 42, 64),
        "multimodal_meta": dk.sql_multimodal_meta(),
        "multimodal_decode": dk.sql_multimodal_decode(),
        "ann_cosine_topk": dk.sql_cosine_topk(0, 10),
        "ann_lsh_topk": dk.sql_lsh_topk(0, 10, 4, 8, 42, 64),
        "ann_lsh_topk_persisted": dk.sql_lsh_topk(0, 10, 4, 8, 42, 64),
    }
