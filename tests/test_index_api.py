"""SparkIndex retrieval API (SURVEY.md §2 R3/R5/K7) + resource hygiene:
point tf lookup vs the single-node oracle, title attach on top-k results,
and no persisted-RDD leak after a build."""


def test_get_term_frequency_matches_oracle(spark_index, oracle_index):
    # R3: reference diskpositionalindex.py:156-188 — every (term, doc)
    # posting must report the oracle's tf; absent pairs report 0
    sample = spark_index.postings.select("term", "doc_id", "tf").limit(20).collect()
    assert sample
    for r in sample:
        want = len(oracle_index.postings[r["term"]][r["doc_id"]])  # tf = |positions|
        assert spark_index.get_term_frequency(r["term"], r["doc_id"]) == want == r["tf"]
    assert spark_index.get_term_frequency("zzzneverseen", 0) == 0
    some_term = sample[0]["term"]
    absent_doc = spark_index.n_docs + 10
    assert spark_index.get_term_frequency(some_term, absent_doc) == 0


def test_with_titles_attaches_result_titles(spark_index):
    # R5/K7: reference model.py:200-237 — top-k results come back with the
    # doc's title; docs outside the result set are not joined in
    from searchengine_spark.querying.ranked import ranked_search

    top = ranked_search(spark_index, "the search engine", k=5)
    titled_df = spark_index.with_titles(top)
    # plan shape: the tiny top-k must be the BUILD side of a broadcast hash
    # join (BuildLeft), not a shuffle of doc_stats — a left-outer join here
    # would silently drop the hint (only BuildRight is legal for LeftOuter)
    plan = titled_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "BuildLeft" in plan, plan
    titled = titled_df.collect()
    assert 0 < len(titled) <= 5
    stats = {
        r["doc_id"]: r["title"]
        for r in spark_index.doc_stats.select("doc_id", "title").collect()
    }
    for r in titled:
        assert r["title"] == stats[r["doc_id"]]
        assert ":" in r["title"]  # transcript titles are conv_id:turn_idx


def test_warm_is_idempotent_and_preserves_results(spark_index):
    # warm() is the serving-prep step: it must pin the dictionary in
    # executor memory and change nothing about query results
    from searchengine_spark.querying.ranked import ranked_search

    before = [tuple(r) for r in ranked_search(spark_index, "the search engine", k=5).collect()]
    try:
        warmed = spark_index.warm()
        assert warmed is spark_index
        assert spark_index.term_stats.storageLevel.useMemory
        after = [tuple(r) for r in ranked_search(spark_index, "the search engine", k=5).collect()]
        assert before == after
    finally:
        spark_index.term_stats.unpersist()


def test_warm_and_build_pin_their_shuffle_configs(spark, tmp_path, spark_index):
    # warm() flips the session into serving shuffle config (AQE coalescing
    # on: tiny per-query reduce stages must not run at build width); a
    # subsequent build on the SAME session must still run at full shuffle
    # width (pinned_build_conf) and restore the serving values afterwards —
    # the ingest-plus-serve session lifecycle.
    from searchengine_spark.indexing import build_index

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    try:
        spark_index.warm()
        assert spark.conf.get(key) == "true"

        docs = spark.createDataFrame([(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string")
        build_index(spark, docs, str(tmp_path / "conf_pin_index"))
        # build ran under its own pin and restored the serving conf
        assert spark.conf.get(key) == "true"
    finally:
        spark_index.term_stats.unpersist()
        spark.conf.set(key, "false")


def test_with_titles_passthrough_without_title_column(spark, tmp_path):
    from searchengine_spark.indexing import SparkIndex, build_index

    docs = spark.createDataFrame([(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string")
    out = str(tmp_path / "untitled_index")
    build_index(spark, docs, out)
    idx = SparkIndex(spark, out)
    res = idx.get_postings(["beta"]).select("doc_id")
    assert set(idx.with_titles(res).columns) == {"doc_id"}  # no title col -> unchanged


def test_build_leaves_no_persisted_rdds(spark, tmp_path):
    # the registry starts empty: conftest's autouse _drain_docid_caches
    # releases leftovers after every test
    from searchengine_spark.indexing import build_index

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma") for i in range(50)], "doc_id long, text string"
    )
    from searchengine_spark.indexing.build import assign_doc_ids

    with_ids = assign_doc_ids(docs.withColumnRenamed("doc_id", "orig"), order_cols=("orig",))
    build_index(spark, with_ids.select("doc_id", "text"), str(tmp_path / "leak_index"))
    after = jsc.getPersistentRDDs().size()
    assert after <= before  # build+assign unpersist everything they cached


def test_postings_kernel_streams_across_arrow_batches(spark, tmp_path):
    """With a tiny Arrow batch size, (term, doc_id) groups split across
    batches; the kernel's carry logic must reassemble them — identical
    output to the pure-DataFrame postings plan."""
    from pyspark.sql import functions as F

    from searchengine_spark.indexing import SparkIndex, build_index
    from searchengine_spark.indexing.logical import postings_all_table
    from searchengine_spark.text.spark_tokenize import tokenize

    rows = [(i, " ".join(["alpha"] * 10 + [f"tok{i % 5}"] * 5 + ["omega"])) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = str(tmp_path / "smallbatch_index")
        build_index(spark, docs, out)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    idx = SparkIndex(spark, out)
    got = {
        (r["term"], r["doc_id"]): (r["tf"], list(r["positions"]))
        for r in idx.postings.collect()
    }
    ref = postings_all_table(tokenize(docs)).filter(F.col("term") != "")
    want = {
        (r["term"], r["doc_id"]): (r["tf"], sorted(r["positions"])) for r in ref.collect()
    }
    assert got == want
    # the segments kernel concatenates the tiny batches before cutting
    # blocks: decoded blobs must still equal the postings exactly
    from searchengine_spark.indexing.segments import decode_segments

    seg = {
        (r["term"], r["doc_id"]): (r["tf"], list(r["positions"]))
        for r in decode_segments(idx.segments).collect()
    }
    assert seg == want


def test_matches_not_with_tokenless_docs(spark, tmp_path):
    """A doc whose every token cleans to '' has an empty term set: it must
    satisfy NOT clauses in the scan path exactly like the index path, and a
    pure-negative query returns empty in both."""
    from searchengine_spark.indexing import SparkIndex, build_index
    from searchengine_spark.querying.boolean import boolean_search, matches_search

    docs = spark.createDataFrame(
        [(0, "cat runs"), (1, "dog naps"), (2, "☃ ☃ ☃")],  # doc 2: all tokens clean to ''
        "doc_id long, text string",
    )
    out = str(tmp_path / "tokenless_index")
    build_index(spark, docs, out)
    idx = SparkIndex(spark, out)
    for q in ("cat -dog", "cat + dog", "cat dog"):
        got = {r["doc_id"] for r in matches_search(idx, q).collect()}
        want = {r["doc_id"] for r in boolean_search(idx, q).collect()}
        assert got == want, q
    # token-less docs never match positive queries in either path
    assert 2 not in {r["doc_id"] for r in matches_search(idx, "cat").collect()}


def test_build_releases_only_its_own_docid_cache(spark, tmp_path):
    """Two corpora with assigned ids in flight: building from one must not
    evict the other's ranged cache (scoped release via the propagated
    handle)."""
    from searchengine_spark.indexing import build_index
    from searchengine_spark.indexing.build import assign_doc_ids, release_docid_cache_of

    a = assign_doc_ids(
        spark.createDataFrame([(i, f"alpha tok{i}") for i in range(30)], "k long, text string"),
        order_cols=("k",),
    )
    b = assign_doc_ids(
        spark.createDataFrame([(i, f"beta tok{i}") for i in range(30)], "k long, text string"),
        order_cols=("k",),
    )
    a_cache, b_cache = a._docid_cache, b._docid_cache
    # pass the handle-carrying frame itself (a select would drop the handle
    # and the build would fall back to the global drain)
    build_index(spark, a, str(tmp_path / "scoped_a"))
    assert a_cache.storageLevel.useMemory is False  # released by its build
    assert b_cache.storageLevel.useMemory is True  # untouched
    assert release_docid_cache_of(b)  # caller releases its own
    assert b_cache.storageLevel.useMemory is False


def test_hot_term_postings_split_across_partitions(spark, tmp_path):
    """North rule: hot-term skew is defused by range partitioning on the
    composite (term, doc_id) key — a stopword-like term's postings must NOT
    land in a single shuffle partition (the salting-equivalent guarantee).
    Verified against the physical output files via the manifest lineage."""
    from pyspark.sql import functions as SF

    from searchengine_spark.indexing import SparkIndex, build_index

    # 2000 docs, every one contains 'the' -> df('the') = 2000 = half of all
    # postings; tok{i} terms are the long uniform tail
    docs = spark.createDataFrame(
        [(i, f"the tok{i}") for i in range(2000)], "doc_id long, text string"
    )
    out = str(tmp_path / "skewsplit_index")
    manifest = build_index(spark, docs, out, n_partitions=8)
    idx = SparkIndex(spark, out)
    files = (
        idx.postings.filter(SF.col("term") == "the")
        .select(SF.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert files > 1, "hot term confined to one partition — skew not defused"
    # and the lineage shows balanced output partitions (no file holds >60%)
    parts = manifest["stages"]["postings"]["partitions"]
    total = sum(p["rows"] for p in parts)
    assert max(p["rows"] for p in parts) / total < 0.6


def test_empty_corpus_builds_and_answers_queries(spark, tmp_path):
    """An empty (doc_id, text) frame builds every artifact (corpus_stats
    with n_docs 0) and the index opens and answers ranked, WAND and Boolean
    queries with no rows — fresh, then resumed over the finished build."""
    import os

    from searchengine_spark.indexing import SparkIndex, build_index
    from searchengine_spark.querying.boolean import boolean_search
    from searchengine_spark.querying.ranked import ranked_search
    from searchengine_spark.querying.wand import ranked_search_wand

    docs = spark.createDataFrame([], "doc_id long, text string")
    out = str(tmp_path / "empty_index")
    for resume in (False, True):
        m = build_index(spark, docs, out, resume=resume)
        assert m["metrics"]["n_docs"] == 0 and m["metrics"]["n_postings"] == 0
        for name in ("postings", "doc_stats", "term_stats", "corpus_stats", "segments"):
            assert os.path.exists(os.path.join(out, name, "_SUCCESS")), (resume, name)
        corpus = spark.read.parquet(os.path.join(out, "corpus_stats")).collect()
        assert len(corpus) == 1 and corpus[0]["n_docs"] == 0
        idx = SparkIndex(spark, out)
        assert ranked_search(idx, "alpha beta").collect() == []
        assert ranked_search_wand(idx, "alpha beta").collect() == []
        assert boolean_search(idx, "alpha AND beta").collect() == []
