"""Iceberg transcript source: schema contract, dispatch, capability gating.

The sandbox has no Iceberg runtime jar, so the live ``format("iceberg")``
read cannot run here; what IS tested is everything that runs either way —
the input_hint schema validation, the front-door dispatch, the time-travel
argument plumbing, and that the unavailable path fails loudly with the
exact spark-submit remedy instead of a raw ClassNotFoundException.  A
cluster with the runtime present exercises the same code path end-to-end
(the reader branch differs only in ``spark.read.format``).
"""

import pytest

from searchengine_spark.sources.iceberg import (
    IcebergUnavailable,
    iceberg_available,
    read_transcripts,
    read_transcripts_iceberg,
    validate_transcript_schema,
)

HAS_ICEBERG = None  # resolved lazily against the session fixture


def test_validate_accepts_contract_schema(transcripts_df):
    out = validate_transcript_schema(transcripts_df)
    assert out is transcripts_df


def test_validate_allows_extra_columns(transcripts_df):
    from pyspark.sql import functions as F

    widened = transcripts_df.withColumn("shard", F.lit(3))
    assert validate_transcript_schema(widened) is widened


def test_validate_rejects_missing_column(transcripts_df):
    with pytest.raises(ValueError, match="missing column tool"):
        validate_transcript_schema(transcripts_df.drop("tool"))


def test_validate_rejects_wrong_type(transcripts_df):
    from pyspark.sql import functions as F

    bad = transcripts_df.withColumn("turn_idx", F.col("turn_idx").cast("long"))
    with pytest.raises(ValueError, match="turn_idx is bigint"):
        validate_transcript_schema(bad)


def test_front_door_reads_parquet(spark, transcripts_df, tmp_path):
    path = str(tmp_path / "transcripts.parquet")
    transcripts_df.write.parquet(path)
    df = read_transcripts(spark, path)
    assert df.count() == transcripts_df.count()
    assert set(c for c in df.columns) >= {"conv_id", "turn_idx", "role", "text", "tool", "ts"}


def test_front_door_rejects_time_travel_on_parquet(spark, transcripts_df, tmp_path):
    path = str(tmp_path / "t2.parquet")
    transcripts_df.limit(1).write.parquet(path)
    with pytest.raises(ValueError, match="require an iceberg: source"):
        read_transcripts(spark, path, snapshot_id=7)


def test_iceberg_paths_gate_on_capability(spark):
    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present; live read covered on-cluster")
    with pytest.raises(IcebergUnavailable, match="spark-submit"):
        read_transcripts_iceberg(spark, "lake.db.transcripts")
    with pytest.raises(IcebergUnavailable, match="--packages org.apache.iceberg"):
        read_transcripts(spark, "iceberg:lake.db.transcripts", snapshot_id=42)


def test_built_index_from_front_door_matches_direct(spark, transcripts_df, tmp_path):
    """The front door feeds prepare_transcripts unchanged: same docIDs,
    same per-turn text under the stable (conv_id, turn_idx) order."""
    from searchengine_spark.indexing.build import (
        prepare_transcripts,
        release_docid_caches,
    )

    path = str(tmp_path / "t3.parquet")
    transcripts_df.write.parquet(path)
    try:
        via_front = prepare_transcripts(read_transcripts(spark, path)).select(
            "doc_id", "title", "text"
        )
        direct = prepare_transcripts(transcripts_df).select("doc_id", "title", "text")
        assert via_front.exceptAll(direct).count() == 0
        assert direct.exceptAll(via_front).count() == 0
    finally:
        release_docid_caches()


# --- write side (round-5: artifacts as Iceberg snapshot commits) -------------


def test_write_artifact_parquet_dispatch(spark, transcripts_df, tmp_path):
    from searchengine_spark.sources.iceberg import read_artifact, write_artifact

    target = str(tmp_path / "wa.parquet")
    info = write_artifact(spark, transcripts_df.select("conv_id"), target)
    assert info == {"format": "parquet", "path": target}
    assert read_artifact(spark, target).count() == transcripts_df.count()


def test_write_artifact_iceberg_gates_on_capability(spark, transcripts_df):
    from searchengine_spark.sources.iceberg import write_artifact

    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present; live write covered on-cluster")
    with pytest.raises(IcebergUnavailable, match="spark-submit"):
        write_artifact(spark, transcripts_df, "iceberg:lake.db.idx_postings")


def test_builder_iceberg_prefix_falls_back_to_parquet_in_sandbox(spark, tmp_path):
    """iceberg_prefix set + runtime absent: the build completes as parquet
    and the manifest records the fallback (capability-first contract)."""
    import os

    from searchengine_spark.indexing.build import IndexBuilder

    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present")
    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i}") for i in range(30)], "doc_id long, text string"
    )
    out = str(tmp_path / "ice_fallback")
    b = IndexBuilder(spark, out, iceberg_prefix="lake.db.idx")
    m = b.build(docs)
    assert "iceberg_fallback" in m
    assert os.path.exists(os.path.join(out, "postings", "_SUCCESS"))
    assert m["stages"]["postings"].get("snapshot_id") is None


def test_builder_iceberg_commits_record_snapshot_ids(spark, tmp_path, monkeypatch):
    """With the runtime 'present' (probe + writer faked at the dispatch
    seam — the sandbox has no jar), every artifact stage writes through
    writeTo(<prefix>_<stage>) semantics and the manifest pins the committed
    snapshot id, which then drives _stage_done on resume."""
    import searchengine_spark.indexing.build as bmod
    import searchengine_spark.sources.iceberg as ice

    from searchengine_spark.indexing.build import IndexBuilder

    committed = {}
    seq = iter(range(100, 200))

    def fake_available(_spark):
        return True

    def fake_write(spark_, df, target):
        if target.startswith("iceberg:"):
            table = target[len("iceberg:"):]
            sid = next(seq)
            committed[table] = {"rows": df.count(), "snapshot_id": sid}
            return {"format": "iceberg", "table": table, "snapshot_id": sid}
        df.write.mode("overwrite").parquet(target)
        return {"format": "parquet", "path": target}

    monkeypatch.setattr(ice, "iceberg_available", fake_available)
    monkeypatch.setattr(ice, "write_artifact", fake_write)

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i}") for i in range(30)], "doc_id long, text string"
    )
    out = str(tmp_path / "ice_commit")
    b = IndexBuilder(spark, out, iceberg_prefix="lake.db.idx")
    # reads of just-written stages must hit the fake tables; in the fake,
    # segments/term_stats derive from postings_df read-back — redirect
    # _read_stage to the committed frames is overkill: the build re-reads
    # postings/segments/term_stats after writing, so give the fake a real
    # backing store by ALSO writing parquet alongside
    real_write = fake_write

    def fake_write_with_backing(spark_, df, target):
        info = real_write(spark_, df, target)
        if info["format"] == "iceberg":
            name = info["table"][len("lake.db.idx_"):]
            df.write.mode("overwrite").parquet(
                str(tmp_path / "backing" / name)
            )
        return info

    def fake_read(spark_, target):
        if target.startswith("iceberg:"):
            name = target[len("iceberg:lake.db.idx_"):]
            return spark.read.parquet(str(tmp_path / "backing" / name))
        return spark.read.parquet(target)

    monkeypatch.setattr(ice, "write_artifact", fake_write_with_backing)
    monkeypatch.setattr(ice, "read_artifact", fake_read)

    m = b.build(docs)
    assert "iceberg_fallback" not in m
    for stage in ("doc_stats", "corpus_stats", "postings", "segments", "term_stats"):
        entry = m["stages"][stage]
        assert entry["format"] == "iceberg", stage
        assert entry["table"] == f"lake.db.idx_{stage}"
        assert isinstance(entry["snapshot_id"], int), stage
        assert committed[f"lake.db.idx_{stage}"]["rows"] > 0

    # resume: snapshot ids in the manifest are the durable completion
    # markers, so every stage fast-skips
    b2 = IndexBuilder(spark, out, iceberg_prefix="lake.db.idx")
    m2 = b2.build(docs, resume=True)
    assert "postings" not in m2["metrics"]["phase_seconds"]
    assert "postings_segments" not in m2["metrics"]["phase_seconds"]
