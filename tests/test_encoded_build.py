"""The build's driver-planned route (round 4): sorted postings, the route
planner and its murmur3 router.  ``tricky_docs`` (hyphen variants, stem
collisions, unicode, empties, hot terms) and ``_artifacts`` also serve
tests/test_dist_build.py, which pins the distributed route plan's index
content against the driver plan's."""

import os

import pytest


@pytest.fixture(scope="module")
def tricky_docs(spark):
    rows = []
    texts = [
        "the quick-brown fox jumps over the lazy dog",
        "running runs runner ran",  # stem collisions (running/runs -> run)
        "",  # empty doc
        "--- 'quoted' café über tab\there",
        "state-of-the-art state of the art stateoftheart",
        "the the the the the the the the",  # hot term
        "zebra apple   banana",
    ]
    for i, t in enumerate(texts * 20):  # 140 docs, repeated content
        rows.append((i, t + (f" tok{i % 11}" if i % 3 else "")))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _artifacts(spark, path):
    out = {}
    for name in ("postings", "doc_stats", "term_stats", "corpus_stats"):
        pdf = spark.read.parquet(os.path.join(path, name)).toPandas()
        if name == "term_stats":
            # block-max metadata (top_block_max_*, min_block_max_*, n_blocks)
            # is LAYOUT-dependent: block boundaries follow partition runs,
            # and the driver route plan cuts partitions differently from
            # build_dist's distributed plan.  WAND is rank-identical under any
            # block layout (test_segments_wand); parity here is semantic.
            pdf = pdf[["term", "df", "cf", "max_wdt_bm25", "max_wdt_tfidf_norm"]]
        cols = sorted(pdf.columns)
        for c in cols:
            if pdf[c].dtype == object and len(pdf) and isinstance(pdf[c].iloc[0], (list, tuple)) or c == "positions":
                pdf[c] = pdf[c].map(lambda v: tuple(v) if v is not None else None)
        out[name] = (
            pdf[cols]
            .round(10)
            .sort_values(cols, key=lambda s: s.map(str))
            .reset_index(drop=True)
        )
    return out


def test_encoded_postings_sorted_by_term(spark, tricky_docs, tmp_path):
    """term_ids are assigned in sorted-term order, so every postings file
    must be internally sorted by (term, doc_id) — the property parquet
    min/max pruning and segment encoding rely on."""
    import pyarrow.parquet as pq

    from searchengine_spark.indexing.build import build_index

    out = str(tmp_path / "sorted_idx")
    build_index(spark, tricky_docs, out)
    pdir = os.path.join(out, "postings")
    files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert files
    for f in files:
        pdf = pq.read_table(os.path.join(pdir, f), columns=["term", "doc_id"]).to_pandas()
        if len(pdf) < 2:
            continue
        key = list(zip(pdf["term"], pdf["doc_id"]))
        assert key == sorted(key), f"{f} not sorted"


def test_murmur3_matches_spark_hash(spark):
    """The driver-planned router inverts Spark's HashPartitioning hash
    (Murmur3_x86_32, seed 42).  If Spark's hash ever changed, routing would
    silently scramble the planned layout — this pins the two together."""
    from pyspark.sql import functions as F

    from searchengine_spark.indexing.build import _murmur3_hash_int

    vals = [0, 1, 2, 7, 41, 42, 1000, 123456789, 2**31 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r["v"]: r["h"] for r in df.select("v", F.hash("v").alias("h")).collect()}
    for v in vals:
        assert _murmur3_hash_int(v) == got[v], v


def test_route_plan_balances_and_splits_hot_terms():
    import numpy as np

    from searchengine_spark.indexing.build import (
        _invert_partition_hash,
        _murmur3_hash_int,
        _plan_term_routes,
    )

    # one hot term (60% of tokens) + a tail
    counts = np.array([600, 50, 40, 30, 120, 80, 80], dtype=np.int64)
    target = 100
    base, ksplit, P = _plan_term_routes(counts, target)
    assert ksplit[0] == 6  # hot term striped across 6 partitions
    # every planned partition's load <= target + max single sub-target term
    loads = np.zeros(P, dtype=np.int64)
    for t in range(len(counts)):
        for j in range(ksplit[t]):
            loads[base[t] + j] += counts[t] // ksplit[t]
    assert loads.max() <= 2 * target
    # representative values land on their exact partitions
    vmap = _invert_partition_hash(P)
    for p in range(P):
        assert _murmur3_hash_int(int(vmap[p])) % P == p


def test_encoded_resume_skips_done_stages(spark, tricky_docs, tmp_path):
    import json

    from searchengine_spark.indexing.build import build_index

    out = str(tmp_path / "resume_idx")
    build_index(spark, tricky_docs, out)
    with open(os.path.join(out, "manifest.json")) as f:
        before = json.load(f)["stages"]["postings"]["completed_at"]
    m = build_index(spark, tricky_docs, out, resume=True)
    assert m["stages"]["postings"]["completed_at"] == before  # not rebuilt
    assert m["metrics"]["n_docs"] == 140
