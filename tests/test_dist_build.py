"""The distributed route plan (build_dist._dist_plan): above
VOCAB_ENCODE_MAX terms the build's one producer plans its route shuffle in
Spark instead of on the driver, and must produce the SAME index as the
driver plan — forced over the cutoff by patching it down, per the round-4
verdict's done-criterion.

File/block layout may differ (the distributed plan derives partition
boundaries from the dictionary cumsum while the driver plan greedy-packs),
so parity is asserted at the content level: postings/doc_stats/corpus_stats
rows exactly equal, term_stats equal on layout-independent columns, segments
equal after DECODING the varbyte blobs back to postings, and queries
rank-identical."""

import os

import pytest
from test_encoded_build import _artifacts, tricky_docs  # noqa: F401  (fixture)


def _force_dist():
    """The patch that forces the distributed plan: a vocabulary cutoff
    below the corpus's term count."""
    import searchengine_spark.indexing.build as bmod

    return [(bmod, "VOCAB_ENCODE_MAX", 3)]


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


def _shift_doc_ids(pdf, offset):
    """``pdf`` with ``offset`` taken off its doc ids, re-sorted as
    _artifacts and _decoded_segments sort."""
    if not offset or "doc_id" not in pdf.columns:
        return pdf
    pdf = pdf.assign(doc_id=pdf["doc_id"] - offset)
    cols = list(pdf.columns)
    return pdf.sort_values(cols, key=lambda s: s.map(str)).reset_index(drop=True)


def _assert_same_index(spark, path_a, path_b, offset=0):
    """The index at ``path_b`` holds the same content as the one at
    ``path_a``, its doc ids ``offset`` higher."""
    import pandas as pd

    a, b = _artifacts(spark, path_a), _artifacts(spark, path_b)
    for name in a:
        pd.testing.assert_frame_equal(a[name], _shift_doc_ids(b[name], offset), check_dtype=False)
    seg_b = _decoded_segments(spark, path_b)
    pd.testing.assert_frame_equal(
        _decoded_segments(spark, path_a), seg_b.assign(doc_id=seg_b["doc_id"] - offset)
    )


@pytest.fixture(scope="module")
def encoded_index(spark, tricky_docs, tmp_path_factory):  # noqa: F811
    from searchengine_spark.indexing.build import IndexBuilder

    out = str(tmp_path_factory.mktemp("enc_ref"))
    m = IndexBuilder(spark, out).build(tricky_docs)
    assert "vocab_collect" in m["metrics"]["phase_seconds"], "encoded path not taken"
    assert "dict_assign" not in m["metrics"]["phase_seconds"], "driver plan not taken"
    return out


def test_dist_over_doc_cutoff_matches_encoded(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """Doc ids at and above 2^40, far beyond any dense per-doc array: the
    posting rows carry their docs' weight inputs, so the build assumes no
    doc-id range, and the index content is the reference build's with its
    doc ids shifted."""
    from pyspark.sql import functions as F

    from searchengine_spark.indexing.build import IndexBuilder

    offset = 1 << 40
    out = str(tmp_path / "big_ids")
    shifted = tricky_docs.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
    m = IndexBuilder(spark, out).build(shifted)
    assert "vocab_collect" in m["metrics"]["phase_seconds"]
    assert spark.read.parquet(os.path.join(out, "postings")).agg(F.min("doc_id")).first()[0] >= offset
    _assert_same_index(spark, encoded_index, out, offset=offset)


def test_dist_vocab_overflow_matches_encoded(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """Forced over VOCAB_ENCODE_MAX: the limit-guarded token-total collect
    overflows and the route is planned DISTRIBUTIVELY."""
    out = str(tmp_path / "dist_vocab")
    m = _build_with(spark, tricky_docs, out, _force_dist())
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
        [*_force_dist(), (bmod, "DOCS_PER_POSTINGS_PARTITION", 2)],
    )
    assert "dict_assign" in m["metrics"]["phase_seconds"]
    _assert_same_index(spark, encoded_index, out)


def test_dist_plan_width_is_the_last_terms(spark):
    """_assign_plan derives the plan's width from its offsets collect: the
    last term's base + ksplit, which must be the largest of the plan, over
    several range partitions, hot terms and uneven totals."""
    import numpy as np
    from pyspark.sql import functions as F

    from searchengine_spark.indexing.build_dist import _assign_plan

    rng = np.random.default_rng(7)
    for target in (1, 7, 50, 10_000):
        tokens = rng.zipf(1.5, 300).clip(max=5_000)
        terms = spark.createDataFrame(
            [(f"t{i:04d}", int(c)) for i, c in enumerate(tokens)], "term string, tokens long"
        )
        plan, ranged, n_parts = _assign_plan(terms, target, 4)
        widest = plan.agg(F.max(F.col("base") + F.col("ksplit"))).first()[0]
        assert n_parts == widest, (target, n_parts, widest)
        plan.unpersist()
        ranged.unpersist()


def test_dist_cold_join_path_exercised(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """With the hot slice shrunk to 2 terms, most postings take the COLD
    shuffle join — content must be unchanged (hot/cold split is a routing
    optimization, not a semantic fork)."""
    import searchengine_spark.indexing.build_dist as dmod

    out = str(tmp_path / "dist_cold")
    _build_with(
        spark,
        tricky_docs,
        out,
        [*_force_dist(), (dmod, "HOT_TERMS_K", 2)],
    )
    _assert_same_index(spark, encoded_index, out)


def test_dist_queries_rank_identical(spark, tricky_docs, encoded_index, tmp_path):  # noqa: F811
    """BM25 top-k and a Boolean phrase over the dist-built index match the
    encoded index exactly (scores included)."""
    from searchengine_spark.indexing.index import SparkIndex
    from searchengine_spark.querying.boolean import boolean_search
    from searchengine_spark.querying.ranked import ranked_search

    out = str(tmp_path / "dist_q")
    _build_with(spark, tricky_docs, out, _force_dist())

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
    _build_with(spark, tricky_docs, out, _force_dist())

    orig = bmod.VOCAB_ENCODE_MAX
    bmod.VOCAB_ENCODE_MAX = 3
    try:
        m2 = IndexBuilder(spark, out).build(tricky_docs, resume=True)
    finally:
        bmod.VOCAB_ENCODE_MAX = orig
    # postings phase skipped -> no dict/postings laps recorded this run
    assert "postings" not in m2["metrics"]["phase_seconds"]
    assert "postings_segments" not in m2["metrics"]["phase_seconds"]
    assert m2["metrics"]["n_postings"] > 0
