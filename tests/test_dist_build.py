"""Distributed dictionary-encoded build (build_dist): the over-cutoff path
must produce the SAME index as the in-memory encoded path — forced over the
cutoffs by patching them down, per the round-4 verdict's done-criterion.

File/block layout may differ (the distributed plan derives partition
boundaries from the dictionary cumsum while the driver plan greedy-packs),
so parity is asserted at the content level: postings/doc_stats/corpus_stats
rows exactly equal, term_stats equal on layout-independent columns, segments
equal after DECODING the varbyte blobs back to postings, and queries
rank-identical."""

import os

import pytest
from test_encoded_build import _artifacts, tricky_docs  # noqa: F401  (fixture)


def _build_with(spark, docs, out, patches):
    """Build with module constants temporarily patched (forcing a path)."""
    from searchengine_spark.indexing.build import IndexBuilder

    saved = [(mod, name, getattr(mod, name)) for mod, name, _v in patches]
    for mod, name, val in patches:
        setattr(mod, name, val)
    try:
        return IndexBuilder(spark, out).build(docs)
    finally:
        for mod, name, orig in saved:
            setattr(mod, name, orig)


def _decoded_segments(spark, path):
    """segments blobs -> plain (term, doc_id, tf, positions) rows, sorted —
    the layout-independent content of the compressed index."""
    import numpy as np
    import pandas as pd

    from searchengine_spark.indexing.codec import decode_block

    pdf = spark.read.parquet(os.path.join(path, "segments")).toPandas()
    rows = []
    for r in pdf.itertuples():
        docs, tfs, flat = decode_block(r.postings_bin)
        off = 0
        for d, tf in zip(docs, tfs):
            rows.append((r.term, int(d), int(tf), tuple(int(p) for p in flat[off : off + int(tf)])))
            off += int(tf)
    out = pd.DataFrame(rows, columns=["term", "doc_id", "tf", "positions"])
    return out.sort_values(["term", "doc_id"]).reset_index(drop=True)


def _assert_same_index(spark, path_a, path_b):
    import pandas as pd

    a, b = _artifacts(spark, path_a), _artifacts(spark, path_b)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name], check_dtype=False)
    pd.testing.assert_frame_equal(
        _decoded_segments(spark, path_a), _decoded_segments(spark, path_b)
    )


@pytest.fixture(scope="module")
def encoded_index(spark, tricky_docs, tmp_path_factory):  # noqa: F811
    from searchengine_spark.indexing.build import IndexBuilder

    out = str(tmp_path_factory.mktemp("enc_ref"))
    m = IndexBuilder(spark, out).build(tricky_docs)
    assert "vocab_collect" in m["metrics"]["phase_seconds"], "encoded path not taken"
    return out


def test_dist_over_doc_cutoff_matches_encoded(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """Forced over BROADCAST_WEIGHTS_MAX_DOCS: build() routes to the
    distributed path (packed-long variant) and the index content is
    identical to the encoded path's."""
    import searchengine_spark.indexing.build as bmod

    out = str(tmp_path / "dist")
    m = _build_with(
        spark, tricky_docs, out, [(bmod, "BROADCAST_WEIGHTS_MAX_DOCS", 10)]
    )
    assert "dict_assign" in m["metrics"]["phase_seconds"], "dist path not taken"
    _assert_same_index(spark, encoded_index, out)


def test_dist_vocab_overflow_matches_encoded(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """Forced over VOCAB_ENCODE_MAX (docs under the doc cutoff): the
    encoded path's limit-guarded collect overflows and falls back to the
    DISTRIBUTED dictionary."""
    import searchengine_spark.indexing.build as bmod

    out = str(tmp_path / "dist_vocab")
    m = _build_with(spark, tricky_docs, out, [(bmod, "VOCAB_ENCODE_MAX", 3)])
    assert "dict_assign" in m["metrics"]["phase_seconds"], "dist path not taken"
    _assert_same_index(spark, encoded_index, out)


def test_dist_packed_key_overflow_matches_encoded(
    spark, tricky_docs, encoded_index, tmp_path, monkeypatch  # noqa: F811
):
    """A packed key over 63 bits (_pack_bits returns None — 21 term bits +
    23 doc bits leave 19 for positions) hands the encoded path over to the
    DISTRIBUTED dictionary, which needs no packed key."""
    import searchengine_spark.indexing.build as bmod

    monkeypatch.setattr(bmod, "_pack_bits", lambda n_terms, n_doc_slots, max_dl: None)
    out = str(tmp_path / "dist_pack")
    m = bmod.IndexBuilder(spark, out).build(tricky_docs)
    assert "dict_assign" in m["metrics"]["phase_seconds"], "dist path not taken"
    _assert_same_index(spark, encoded_index, out)


def test_dist_striped_plan_matches_encoded(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """Route-plan striping forced on (tiny per-partition token target →
    every term's ksplit > 1 striping path is exercised): the 10^12-doc
    shape where single terms outweigh whole partitions must still produce
    the same index."""
    import searchengine_spark.indexing.build as bmod

    out = str(tmp_path / "dist_stripe")
    m = _build_with(
        spark,
        tricky_docs,
        out,
        [(bmod, "BROADCAST_WEIGHTS_MAX_DOCS", 10), (bmod, "DOCS_PER_POSTINGS_PARTITION", 2)],
    )
    assert "dict_assign" in m["metrics"]["phase_seconds"]
    _assert_same_index(spark, encoded_index, out)


def test_dist_cold_join_path_exercised(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """With the hot slice shrunk to 2 terms, most postings take the COLD
    shuffle join — content must be unchanged (hot/cold split is a routing
    optimization, not a semantic fork)."""
    import searchengine_spark.indexing.build as bmod
    import searchengine_spark.indexing.build_dist as dmod

    out = str(tmp_path / "dist_cold")
    _build_with(
        spark,
        tricky_docs,
        out,
        [(bmod, "BROADCAST_WEIGHTS_MAX_DOCS", 10), (dmod, "HOT_TERMS_K", 2)],
    )
    _assert_same_index(spark, encoded_index, out)


def test_dist_queries_rank_identical(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """BM25 top-k and a Boolean phrase over the dist-built index match the
    encoded index exactly (scores included)."""
    import searchengine_spark.indexing.build as bmod

    from searchengine_spark.indexing.index import SparkIndex
    from searchengine_spark.querying.boolean import boolean_search
    from searchengine_spark.querying.ranked import ranked_search

    out = str(tmp_path / "dist_q")
    _build_with(spark, tricky_docs, out, [(bmod, "BROADCAST_WEIGHTS_MAX_DOCS", 10)])

    for path_pair in [(encoded_index, out)]:
        ia, ib = SparkIndex(spark, path_pair[0]), SparkIndex(spark, path_pair[1])
        ra = [(r["doc_id"], round(r["score"], 9)) for r in ranked_search(ia, "quick brown fox", mode="bm25", k=5).collect()]
        rb = [(r["doc_id"], round(r["score"], 9)) for r in ranked_search(ib, "quick brown fox", mode="bm25", k=5).collect()]
        assert ra == rb and len(ra) > 0
        ba = sorted(r["doc_id"] for r in boolean_search(ia, '"lazy dog"').collect())
        bb = sorted(r["doc_id"] for r in boolean_search(ib, '"lazy dog"').collect())
        assert ba == bb and len(ba) > 0


def test_dist_resume_skips_stages(spark, tricky_docs, tmp_path):  # noqa: F811
    """A completed dist build resumed is a no-op fast path: stages are
    skipped and the manifest survives."""
    import searchengine_spark.indexing.build as bmod

    from searchengine_spark.indexing.build import IndexBuilder

    out = str(tmp_path / "dist_resume")
    _build_with(spark, tricky_docs, out, [(bmod, "BROADCAST_WEIGHTS_MAX_DOCS", 10)])

    orig = bmod.BROADCAST_WEIGHTS_MAX_DOCS
    bmod.BROADCAST_WEIGHTS_MAX_DOCS = 10
    try:
        m2 = IndexBuilder(spark, out).build(tricky_docs, resume=True)
    finally:
        bmod.BROADCAST_WEIGHTS_MAX_DOCS = orig
    # postings phase skipped -> no dict/postings laps recorded this run
    assert "postings" not in m2["metrics"]["phase_seconds"]
    assert "postings_segments" not in m2["metrics"]["phase_seconds"]
    assert m2["metrics"]["n_postings"] > 0
