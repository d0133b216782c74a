"""Driver-contract smoke: entry() runs and yields rows with a stable schema;
queries()/oracle_sql() key sets agree.  The full Spark-vs-DuckDB value gate is
tools/check_gate.py (run at sf0.001 and sf0.01 before each commit touching
the entry surface)."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_keys_match():
    import __spark_entry__ as m

    assert set(m.queries()) == set(m.oracle_sql())


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["doc_id", "score_r"]


def test_gate_sample(spark):
    """One end-to-end spark-vs-duckdb value check per family (fast subset)."""
    import duckdb

    import __spark_entry__ as m

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = m.queries(), m.oracle_sql()
    for name in ("term_stats", "bool_phrase", "ranked_bm25", "quality_score", "ann_cosine_topk"):
        sdf = qs[name](spark, sf_dir)
        srows = sorted(tuple(r) for r in sdf.collect())
        drows = sorted(tuple(r) for r in con.sql(oracles[name]).fetchall())
        assert srows == drows, f"{name} mismatch"


def test_engine_cache_keys_on_application_id(spark, tmp_path, monkeypatch):
    # an entry from another (stopped) session is evicted together with its
    # index directory, and a recycled id(spark) can never alias a stale
    # index: the key is the session's applicationId, not the interpreter id
    import __spark_entry__ as m

    monkeypatch.setattr(m, "_GATE_INDEXES", {})
    monkeypatch.setattr(m, "_GATE_SCRATCH", str(tmp_path))
    sf_dir = "/data/sf0.001"  # never read: the build below is a stand-in
    stale_dir = tmp_path / "gate_index_1_sf0.001_dead"
    stale_dir.mkdir()
    # stands in for an index whose session is gone
    m._GATE_INDEXES[("index", "app-from-a-dead-session", sf_dir)] = (object(), str(stale_dir))

    built = []

    def build(spark_, sf_dir_, out):
        os.makedirs(out)
        built.append(out)
        return object()

    idx = m._gate_index(spark, sf_dir, "index", build)
    app_id = spark.sparkContext.applicationId
    assert list(m._GATE_INDEXES) == [("index", app_id, sf_dir)], "stale entry not evicted"
    assert not stale_dir.exists(), "evicted index dir left behind"
    assert m._gate_index(spark, sf_dir, "index", build) is idx  # same session -> cached
    assert len(built) == 1 and os.path.dirname(built[0]) == str(tmp_path)
    # each kind (encoded, dist, embedding) has its own entry and directory
    m._gate_index(spark, sf_dir, "eindex", build)
    assert len(built) == 2 and built[0] != built[1]


def test_gate_index_dirs_removed_at_exit(tmp_path):
    """A process that built gate indexes leaves no directory behind."""
    script = f"""
import os, sys, types
sys.path.insert(0, {REPO!r})
import __spark_entry__ as m
m._GATE_SCRATCH = {str(tmp_path)!r}
spark = types.SimpleNamespace(
    _searchengine_pkg_added=True,
    sparkContext=types.SimpleNamespace(applicationId="app-1"),
)
def build(spark, sf_dir, out):
    os.makedirs(out)
    return out
for kind in ("index", "dindex", "eindex"):
    assert os.path.isdir(m._gate_index(spark, "/data/sf0.001", kind, build))
"""
    subprocess.run([sys.executable, "-c", script], check=True, timeout=300)
    assert os.listdir(tmp_path) == []
