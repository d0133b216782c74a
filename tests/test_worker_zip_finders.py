"""Engine kernels release the Python worker's zip import finders when they
finish, so a reused worker's next ``importlib.invalidate_caches()`` (called
by pyspark at the start of every task) has no zip directory to re-read."""

import importlib
import importlib.resources
import sys
import zipfile
import zipimport

from test_encoded_build import tricky_docs  # noqa: F401  (fixture)
from test_streaming import _mk_turns

from searchengine_spark.worker import engine_kernel, release_zip_finders


def _zip_finders():
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def test_release_zip_finders_keeps_imports_working(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zip_finder_probe/__init__.py", "")
        zf.writestr("zip_finder_probe/first.py", "def value():\n    return 1\n")
        zf.writestr("zip_finder_probe/second.py", "VALUE = 2\n")
        zf.writestr("zip_finder_probe/data.txt", "payload")
    monkeypatch.syspath_prepend(str(archive))
    try:
        import zip_finder_probe.first as first

        zips = _zip_finders()
        assert zips
        others = {p: f for p, f in sys.path_importer_cache.items() if p not in zips}
        release_zip_finders()
        assert sys.path_importer_cache == others

        assert first.value() == 1
        assert importlib.resources.files("zip_finder_probe").joinpath("data.txt").read_text() == "payload"
        importlib.invalidate_caches()
        import zip_finder_probe.second as second

        assert second.VALUE == 2
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zip_finder_probe"]:
            del sys.modules[name]


def test_reused_worker_finds_no_zip_finders(spark):
    """Every worker that ran a task of the first job starts its task of the
    second job with no zipimporter left to refresh."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays(
            [pa.array([os.getpid()], pa.int64()), pa.array([n], pa.int64())],
            names=["pid", "zip_finders"],
        )

    df = spark.range(0, 16, numPartitions=8).mapInArrow(
        engine_kernel(probe), "pid long, zip_finders long"
    )
    first_pids = {r["pid"] for r in df.collect()}
    reused = [(r["pid"], r["zip_finders"]) for r in df.collect() if r["pid"] in first_pids]
    assert reused
    assert all(n == 0 for _pid, n in reused), reused


def test_every_engine_kernel_releases_zip_finders(spark, tricky_docs, tmp_path, monkeypatch):  # noqa: F811
    """Every function a build, a streaming epoch and its compaction, a
    segment decode and a forced-prune WAND query hand to Spark's Python
    runner carries the engine_kernel marker."""
    import searchengine_spark.indexing.build as bmod
    from searchengine_spark.indexing.index import SparkIndex
    from searchengine_spark.indexing.segments import decode_segments
    from searchengine_spark.querying import wand
    from searchengine_spark.streaming.ingest import StreamingIndexer
    from searchengine_spark.text.spark_tokenize import _stem_udf

    recorded = []

    def record(cls, name):
        original = getattr(cls, name)

        def recording(self, func, *args, **kwargs):
            recorded.append(func)
            return original(self, func, *args, **kwargs)

        monkeypatch.setattr(cls, name, recording)

    frame = type(tricky_docs)
    record(frame, "mapInArrow")
    record(frame, "mapInPandas")
    record(type(tricky_docs.groupBy("doc_id")), "applyInPandas")

    bulk = str(tmp_path / "bulk")
    m = bmod.IndexBuilder(spark, bulk).build(tricky_docs)
    assert "vocab_collect" in m["metrics"]["phase_seconds"], "encoded path not taken"
    with monkeypatch.context() as patch:
        patch.setattr(bmod, "BROADCAST_WEIGHTS_MAX_DOCS", 10)
        m = bmod.IndexBuilder(spark, str(tmp_path / "dist")).build(tricky_docs)
    assert "dict_assign" in m["metrics"]["phase_seconds"], "dist path not taken"

    indexer = StreamingIndexer(spark, str(tmp_path / "stream"), n_partitions=4)
    indexer.process_batch(_mk_turns(spark, 0, 20), epoch_id=0)
    indexer.compact()
    indexer.process_batch(_mk_turns(spark, 20, 10), epoch_id=1)
    indexer.compact()

    index = SparkIndex(spark, bulk)
    assert decode_segments(index.segments).count() > 0
    wand.ranked_search_wand(index, "the fox", k=1, theta_mode="seeded", min_blocks_to_prune=0).collect()

    assert wand._decode_doc_ids in recorded
    unmarked = [f for f in recorded if not getattr(f, "_releases_zip_finders", False)]
    assert not unmarked, [getattr(f, "__qualname__", f) for f in unmarked]
    assert _stem_udf.func._releases_zip_finders
