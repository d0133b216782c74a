"""Round-4 ADVICE regression tests: sparse-docid weights, resume gate on
both stats artifacts, RIFF-lookalike payloads in the bulk decode."""

import json
import os

import pytest


def test_build_over_sparse_doc_ids_correct_weights(spark, tmp_path):
    """A filtered corpus (sparse surviving doc_ids) fed straight to
    build_index must produce the same BM25 weights as the same docs re-idded
    densely.  The posting rows carry their docs' weight inputs, so neither
    sparse nor far-offset ids need a path of their own: both builds take
    the driver-planned route and weight every posting from its row."""
    from searchengine_spark.indexing.build import build_index

    def weights(path, idmap=None):
        rows = spark.read.parquet(os.path.join(path, "postings")).collect()
        return {
            (r["term"], idmap[r["doc_id"]] if idmap else r["doc_id"]): round(r["wdt_bm25"], 12)
            for r in rows
        }

    texts = [(7 * i, f"alpha beta tok{i % 5} gamma delta") for i in range(43)]
    remap = {doc_id: new for new, (doc_id, _) in enumerate(texts)}
    dense = spark.createDataFrame(
        [(remap[d], t) for d, t in texts], "doc_id long, text string"
    )
    out_dense = str(tmp_path / "dense")
    build_index(spark, dense, out_dense)
    want = weights(out_dense)

    for offset in (0, 10**10):
        rows = [(offset + d, t) for d, t in texts]
        sparse = spark.createDataFrame(rows, "doc_id long, text string")
        out_sparse = str(tmp_path / f"sparse{offset}")
        m = build_index(spark, sparse, out_sparse)
        assert "dict_assign" not in m["metrics"]["phase_seconds"], offset
        idmap = {offset + d: new for d, new in remap.items()}
        assert weights(out_sparse, idmap) == want, offset


def test_resume_recomputes_when_corpus_stats_missing(spark, tmp_path):
    """Pre-change manifest shape: doc_stats marked done, corpus_stats never
    written — resume must recompute the stats phase, not AnalysisException."""
    import shutil

    from searchengine_spark.indexing.build import build_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 7}") for i in range(100)], "doc_id long, text string"
    )
    out = str(tmp_path / "idx")
    build_index(spark, docs, out)
    # simulate the crash window: corpus_stats artifact gone, manifest entry
    # gone, doc_stats still marked done
    shutil.rmtree(os.path.join(out, "corpus_stats"))
    with open(os.path.join(out, "manifest.json")) as f:
        manifest = json.load(f)
    manifest["stages"].pop("corpus_stats", None)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)

    m = build_index(spark, docs, out, resume=True)
    assert os.path.exists(os.path.join(out, "corpus_stats", "_SUCCESS"))
    assert m["metrics"]["n_docs"] == 100


def test_decode_meta_riff_lookalike_text_is_unknown(spark):
    """A transcript that happens to start 'RIFF....WAVE' is not a WAV: the
    bulk decode must fall through to format='unknown', not crash the query."""
    from searchengine_spark.pipeline.multimodal import decode_media, decode_meta

    payload = b"RIFF0000WAVEform follows but this is just text, no fmt chunk"
    with pytest.raises(ValueError):
        decode_media(payload)  # standalone API stays loud

    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    rows = decode_meta(df).collect()
    assert rows[0]["format"] == "unknown"


def test_decode_media_truncated_fmt_chunk_no_struct_error(spark):
    """fmt chunk header present but payload truncated before off+24: the
    bound check must skip it (-> ValueError for missing fmt), not struct.error."""
    from searchengine_spark.pipeline.multimodal import decode_media

    truncated = b"RIFF\x10\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01"
    with pytest.raises(ValueError):
        decode_media(truncated)
