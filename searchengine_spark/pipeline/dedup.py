"""Near-duplicate detection over a (doc_id, text) corpus — the training-data
dedup family (graded alongside SURVEY.md §2): MinHash+LSH banding, SimHash,
rare-shingle-blocked n-gram Jaccard, and LSH-bucketed embedding-cosine
near-dup.

Design constraints shared by every op here:
  * the only hash primitive is md5(), which DuckDB shares, so each op has an
    exactly-equivalent ANSI-SQL twin in duck_oracle.py;
  * hash values are compared as *hex strings* (min over md5 strings is a
    lexicographic min — identical in any engine, no 64-bit int semantics to
    align);
  * all plans are shuffle-minimal: ONE doc-level aggregation per op (hash
    columns are computed row-side and min/sum-combined map-side before the
    shuffle), band join keyed on (band, band_key) so candidate generation is
    a co-partitioned equi-join whose two identical sides collapse into a
    ReusedExchange.

Scale notes (100 TB): the shingle explosion is a flatMap (no shuffle); the
single minhash groupBy(doc_id) shuffles one row per (doc, partial) with
n_hashes partial minima — n_hashes× less shuffle I/O than the
(doc, shingle, hash_idx) row explosion it replaced.  Band buckets are md5
keys — uniformly distributed, so the self-join cannot hot-spot; a
pathological giant cluster (the same near-dup text repeated 10^9 times) is
defused upstream by exact dedup (dedup_exact) which removes identical texts
before MinHash runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..worker import engine_kernel


def _words(text_col):
    return F.filter(F.split(F.lower(text_col), " "), lambda x: F.length(x) > 0)


from .similarity import _spread  # shared small-input fan-out policy


def _shingles(words):
    """Distinct word 3-gram shingles; docs with <3 words contribute one
    whole-text shingle (so short docs still participate)."""
    tri = F.transform(
        F.sequence(F.lit(1), F.size(words) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(words, i), F.element_at(words, i + 1), F.element_at(words, i + 2)
        ),
    )
    return F.array_distinct(
        F.when(F.size(words) >= 3, tri).otherwise(F.array(F.concat_ws(" ", words)))
    )


def shingle_table_expr(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) as pure expressions — the SQL-twin shape.  Spark
    evaluates higher-order array lambdas (transform/element_at) interpreted,
    outside codegen, so this path is measured ~10x slower than the Arrow
    kernel below; it exists as the cross-engine semantic baseline
    (test_dedup_ops asserts kernel == expression)."""
    return docs.select(
        "doc_id", F.explode(_shingles(_words(F.col("text")))).alias("shingle")
    )


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct word-3-gram shingles per doc; docs with
    <3 words contribute one whole-text shingle.  Arrow-batched kernel
    (narrow, no shuffle): plain str.split/join over each batch — the hot
    inner loop is tiny C-string ops, far cheaper than interpreted
    higher-order expressions over arrays."""

    @engine_kernel
    def fn(iterator):
        import pandas as pd

        for pdf in iterator:
            ids, shingles = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in str(text).lower().split(" ") if w]
                if len(words) >= 3:
                    uniq = dict.fromkeys(
                        " ".join(words[i : i + 3]) for i in range(len(words) - 2)
                    )
                else:
                    uniq = {" ".join(words): None}
                ids.extend([doc_id] * len(uniq))
                shingles.extend(uniq)
            yield pd.DataFrame({"doc_id": ids, "shingle": shingles})

    return _spread(docs.select("doc_id", "text")).mapInPandas(
        fn, schema="doc_id long, shingle string"
    )


def _minhash_wide_expr(docs: DataFrame, n_hashes: int) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) as expressions: all n_hashes md5s computed per
    (doc, shingle) ROW (narrow projection), then min-reduced column-wise in a
    single groupBy(doc_id).  Partial (map-side) aggregation combines minima
    before the shuffle, so shuffle volume is O(n_docs * n_hashes) strings —
    not O(n_shingle_rows * n_hashes) as an explode-first plan would pay.
    Semantic baseline for the kernel below (tested equal)."""
    sh = shingle_table_expr(docs)
    hashed = sh.select(
        "doc_id",
        *[F.md5(F.concat_ws("|", F.lit(str(j)), F.col("shingle"))).alias(f"h{j}") for j in range(n_hashes)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{j}").alias(f"mh{j}") for j in range(n_hashes)]
    )


def _minhash_wide(docs: DataFrame, n_hashes: int) -> DataFrame:
    """(doc_id, mh0..mh{n-1}): the production signature path — one Arrow
    kernel computes each doc's shingle set, the n_hashes md5s per shingle,
    and the per-seed minima, emitting ONE row per doc.  Zero shuffles (the
    downstream band join is the first exchange); md5 hex strings and the
    lexicographic min are identical to the expression/SQL twin."""

    @engine_kernel
    def fn(iterator):
        import hashlib

        import pandas as pd

        prefixes = [f"{j}|".encode() for j in range(n_hashes)]
        for pdf in iterator:
            out = {f"mh{j}": [] for j in range(n_hashes)}
            ids = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in str(text).lower().split(" ") if w]
                if len(words) >= 3:
                    shingles = set(" ".join(words[i : i + 3]) for i in range(len(words) - 2))
                else:
                    shingles = {" ".join(words)}
                ids.append(doc_id)
                for j, pref in enumerate(prefixes):
                    out[f"mh{j}"].append(
                        min(hashlib.md5(pref + s.encode()).hexdigest() for s in shingles)
                    )
            yield pd.DataFrame({"doc_id": ids, **out})

    schema = "doc_id long, " + ", ".join(f"mh{j} string" for j in range(n_hashes))
    return _spread(docs.select("doc_id", "text")).mapInPandas(fn, schema=schema)


def minhash_signatures(docs: DataFrame, n_hashes: int = 12) -> DataFrame:
    """(doc_id, j, mh): the j-th minhash = lexicographic min of
    md5(j || '|' || shingle) over the doc's shingles.  Min-of-md5-strings is
    the classic one-permutation-per-seed MinHash family; string min keeps the
    SQL twin exact.  The long form here is a narrow explode of the wide
    single-shuffle aggregation (_minhash_wide)."""
    wide = _minhash_wide(docs, n_hashes)
    pairs = F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.col(f"mh{j}").alias("mh"))
            for j in range(n_hashes)
        ]
    )
    return wide.select("doc_id", F.explode(pairs).alias("s")).select(
        "doc_id", F.col("s.j").alias("j"), F.col("s.mh").alias("mh")
    )


def minhash_bands(docs: DataFrame, n_hashes: int = 12, band_size: int = 3) -> DataFrame:
    """(doc_id, band, band_key): band_key = md5 of the band's minhashes in
    j-order — the LSH bucket id.  Derived directly from the wide signature
    row (no second aggregation; the explode into band rows is narrow)."""
    wide = _minhash_wide(docs, n_hashes)
    n_bands = -(-n_hashes // band_size)  # ceil
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{j}")
                            for j in range(b * band_size, min((b + 1) * band_size, n_hashes))
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return wide.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key")
    )


def dedup_minhash(docs: DataFrame, n_hashes: int = 12, band_size: int = 3) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ANY band bucket.
    Returns (doc_a, doc_b), doc_a < doc_b, distinct.  Collision probability
    for Jaccard s is 1 - (1 - s^band_size)^(n_hashes/band_size).  The two
    join sides are the same plan, so the (band, band_key) exchange is built
    once and reused."""
    bands = minhash_bands(docs, n_hashes, band_size)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): Charikar SimHash over word unigrams weighted by tf —
    pure-expression plan, the SQL-twin / correctness baseline.

    Each word's b-bit hash is read digit-wise from the tail of its md5 hex
    (pure arithmetic on instr('0123456789abcdef', ch) — no engine-specific
    int casts, so DuckDB reproduces it bit for bit).  Bit i of the signature
    is 1 iff sum_w tf_w * (2*bit_i(w) - 1) > 0.

    One shuffle: the per-(doc, word) tf aggregation; per-bit contributions
    are then formed as an array expression and column-summed in the same
    doc-level aggregation (no ×bits row explosion, no third shuffle).
    The production path at 100 TB is simhash_kernel (numpy mapInPandas,
    identical output, zero shuffle)."""
    words = docs.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    h = tf.withColumn("hex", F.md5("word"))

    def bit_expr(i: int):
        # hex digit holding bit i, counted from the string tail (md5 = 32 chars)
        digit_ch = F.substring(F.col("hex"), 32 - i // 4, 1)
        digit = F.instr(F.lit("0123456789abcdef"), digit_ch) - 1
        return (F.floor(digit / F.lit(float(2 ** (i % 4)))).cast("long") % 2)

    contribs = h.select(
        "doc_id",
        *[(F.col("tf") * (bit_expr(i) * 2 - 1)).alias(f"c{i}") for i in range(bits)],
    )
    summed = contribs.groupBy("doc_id").agg(
        *[F.sum(f"c{i}").alias(f"s{i}") for i in range(bits)]
    )
    sig = None
    for i in range(bits):
        b = F.when(F.col(f"s{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = b if sig is None else sig + b
    return summed.select("doc_id", sig.cast("long").alias("simhash"))


_SIMHASH_SCHEMA = "doc_id long, simhash long"


def simhash_kernel(docs: DataFrame, bits: int = 32) -> DataFrame:
    """The 100 TB SimHash path: one Arrow-batched numpy kernel over
    (doc_id, text) — zero shuffles, no per-token rows ever materialized.
    Output is bit-identical to simhash() (tested in test_dedup_ops):
    identical md5-tail bit derivation, integer tf weights, and an exact
    integer sign test, so no float divergence is possible."""
    if bits > 62:
        raise ValueError("simhash kernel supports at most 62 bits (long signature)")

    @engine_kernel
    def fn(iterator):
        import hashlib
        from collections import Counter

        import numpy as np
        import pandas as pd

        cache: dict[str, np.ndarray] = {}  # word -> (+1/-1)^bits row

        def word_row(word: str) -> np.ndarray:
            row = cache.get(word)
            if row is None:
                hx = hashlib.md5(word.encode("utf-8")).hexdigest()
                # bit i lives in hex digit 31 - i//4, at in-digit position i%4
                digits = np.array([int(hx[31 - (i >> 2)], 16) for i in range(bits)], dtype=np.int64)
                shifts = np.arange(bits, dtype=np.int64) & 3
                row = (((digits >> shifts) & 1) * 2 - 1).astype(np.int64)
                cache[word] = row
            return row

        pow2 = (np.int64(1) << np.arange(bits, dtype=np.int64)).astype(np.int64)
        for pdf in iterator:
            out_ids, out_sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts = Counter(w for w in str(text).lower().split(" ") if w)
                if not counts:
                    # wordless docs contribute no (doc, word) rows in the
                    # expression/SQL plan and thus no signature — match that
                    continue
                mat = np.stack([word_row(w) for w in counts])  # (n_words, bits)
                tfv = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
                sums = tfv @ mat  # integer per-bit contribution sums
                sig = int(pow2[sums > 0].sum())
                out_ids.append(doc_id)
                out_sigs.append(sig)
            yield pd.DataFrame({"doc_id": out_ids, "simhash": out_sigs})

    return _spread(docs.select("doc_id", "text")).mapInPandas(fn, schema=_SIMHASH_SCHEMA)


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_shingle_df: int = 100
) -> DataFrame:
    """(doc_a, doc_b, jaccard_r): word-3-gram Jaccard similarity over the
    *rare-shingle universe* (shingles appearing in <= max_shingle_df docs).

    Rare-shingle blocking is the standard scale trick: dropping
    ubiquitous shingles both removes the O(df^2) hot-key blowup in the
    pair-generation join and sharpens the signal (stopword-only shingles
    carry no dedup information).  Jaccard is computed within the same
    universe, so the SQL twin is exact.

    The shingle df is a window count over one shuffle-by-shingle (not a
    groupBy + re-join, which would build the shingle table twice); the pair
    join's two sides are the identical windowed plan, so the shingle
    exchange is reused rather than recomputed."""
    sh = shingle_table(docs)
    rare = (
        sh.withColumn("df_s", F.count("*").over(Window.partitionBy("shingle")))
        .filter(F.col("df_s") <= max_shingle_df)
        .select("doc_id", "shingle")
    )
    sizes = rare.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = rare.alias("a")
    b = rare.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    jac = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")))
    )
    # floor-quantize (engine-independent on identical doubles; see textops.py)
    return (
        jac.filter(F.col("jaccard") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            (F.floor(F.col("jaccard") * 10000.0) / 10000.0).alias("jaccard_r"),
        )
    )


def near_dup_embedding_exact(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """(vec_a, vec_b, sim_r): exact all-pairs cosine >= threshold.

    All-pairs is O(N^2) — it exists ONLY as the small-N correctness baseline
    that near_dup_embedding's recall is tested against (test_dedup_ops); the
    scale path is near_dup_embedding below."""
    dot = F.aggregate(
        F.zip_with(F.col("a.embedding"), F.col("b.embedding"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def norm(side):
        return F.sqrt(
            F.aggregate(
                F.col(f"{side}.embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )

    a = embeddings.alias("a")
    b = embeddings.alias("b")
    sim = dot / (norm("a") * norm("b"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (F.round(sim, 4) + F.lit(0.0)).alias("sim_r"),
        )
        .filter(F.col("sim_r") >= threshold)
    )


def near_dup_embedding(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, sim_r): LSH-bucketed near-duplicate pairs — candidates
    are the within-bucket pairs of random-hyperplane signature buckets
    (similarity.hyperplane_signatures), exact-rescored by cosine; only
    pairs sharing a bucket in >=1 table are ever scored.

    This is the 100 TB shape: no cartesian/BroadcastNestedLoopJoin, no
    pair-level shuffle, no pair-level Arrow transfer (asserted by
    tools/explain_audit.py) — ONE shuffle of signature rows into a
    per-bucket numpy kernel that enumerates and rescores pairs in place
    (see near_dup_from_signed).  Embeddings ride the signature rows
    (n_tables-fold duplication through that one shuffle) instead of a
    pair-materialize + two re-attach joins, which would shuffle the
    embedding table twice more plus the pair set.  Per-table recall for a
    pair at angle theta is (1 - theta/pi)^n_planes, amortized over n_tables
    to 1 - (1 - p)^n_tables; n_planes defaults to auto_n_planes(N) so
    expected bucket occupancy — and with it the per-bucket O(occupancy^2)
    pair work — stays constant as the corpus grows (pass an explicit value
    to pin parameters, as the gates do); raise n_tables to recover recall.
    The DuckDB twin inlines the identical LCG hyperplanes, so the gate
    compares identical candidate sets."""
    from .similarity import auto_n_planes, hyperplane_signatures

    if dim is None:  # pass dim when known to skip this probing job
        drow = embeddings.select(F.size("embedding").alias("d")).first()
        if drow is None:  # empty input: empty pair set, stable schema
            return embeddings.sparkSession.createDataFrame(
                [], "vec_a long, vec_b long, sim_r double"
            )
        dim = int(drow["d"])
    if n_planes is None:
        n_planes = auto_n_planes(embeddings.count())

    signed = hyperplane_signatures(
        embeddings, n_planes=n_planes, n_tables=n_tables, seed=seed, dim=dim
    )
    return near_dup_from_signed(signed, n_tables=n_tables, threshold=threshold, dim=dim)


def near_dup_from_signed(
    signed: DataFrame, n_tables: int, threshold: float, dim: int
) -> DataFrame:
    """Per-bucket pair generation + exact rescore over an already-signed
    frame (vec_id, embedding, bucket_0..bucket_{n_tables-1}) — shared by the
    in-session path above and the persisted EmbeddingIndex, whose signature
    pass ran once at build time.

    Shape: ONE shuffle of (t, bucket, vec_id, embedding) rows — n_tables
    copies of each embedding, ~n_tables * N * (dim*4 + 24) bytes — into a
    groupBy(t, bucket).applyInPandas kernel that enumerates and rescores the
    within-bucket pairs in numpy.  The quadratic pair set never crosses the
    Arrow boundary: round 2 fused the rescore into a bucket self-join, which
    meant every candidate PAIR row carried both embeddings through the join
    and into mapInPandas (at sf0.1 / threshold 0.4 that is ~1.0M pairs,
    ~550 MB of Arrow traffic — LSH at a low threshold prunes little, so the
    boundary cost was ~brute-force).  Here Arrow carries the GROUP rows in
    (n_tables * N) and only near-threshold survivors out.

    A group = one bucket of one table; bucket occupancy is the operator's
    scale contract either way (a giant bucket also blew up the join), and
    n_planes must grow with N to keep buckets bounded.  Within the kernel the
    pair blocks are chunked so peak memory is O(chunk * dim), not
    O(bucket^2 * dim)."""
    sig_rows = signed.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("bucket"))
                    for t in range(n_tables)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "embedding", F.col("s.t").alias("t"), F.col("s.bucket").alias("bucket"))

    # The rescore fold is a strict left-to-right float64 accumulation over
    # the dimension axis (one vectorized += per dimension across the whole
    # pair block): per pair it performs the IDENTICAL IEEE op sequence as
    # F.aggregate / DuckDB list_sum, so values stay bit-identical to the SQL
    # twin (an inline expanded-sum expression fails janino compilation at
    # dim=64 and runs interpreted — the round-2 regression).  numpy does not
    # fuse multiply-add, so no FMA divergence.  F.round stays Spark-side;
    # the kernel only pre-filters at threshold - 1e-4, strictly below the
    # HALF_UP boundary (round(x,4) >= thr requires x >= thr - 5e-5), so the
    # Spark-side round+filter sees every survivor it would have seen.
    pre_cut = threshold - 1e-4
    chunk = 1 << 16

    @engine_kernel
    def bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "sim": "float64"}
            )
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.empty((n, dim), dtype=np.float64)
        for r, e in enumerate(pdf["embedding"].to_numpy()[order]):
            V[r] = np.asarray(e, dtype=np.float64)  # exact float->double widening
        ia, ib = np.triu_indices(n, k=1)  # vec_a < vec_b after the sort
        out_a, out_b, out_s = [], [], []
        for lo in range(0, len(ia), chunk):
            sl = slice(lo, lo + chunk)
            A = V[ia[sl]]
            B = V[ib[sl]]
            m = A.shape[0]
            ab = np.zeros(m, dtype=np.float64)
            aa = np.zeros(m, dtype=np.float64)
            bb = np.zeros(m, dtype=np.float64)
            for i in range(dim):  # strict left-to-right fold per pair
                ab += A[:, i] * B[:, i]
                aa += A[:, i] * A[:, i]
                bb += B[:, i] * B[:, i]
            sim = ab / (np.sqrt(aa) * np.sqrt(bb))
            keep = sim >= pre_cut
            out_a.append(ids[ia[sl]][keep])
            out_b.append(ids[ib[sl]][keep])
            out_s.append(sim[keep])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    rescored = sig_rows.groupBy("t", "bucket").applyInPandas(
        bucket_pairs, schema="vec_a long, vec_b long, sim double"
    )
    # a pair colliding in several tables is rescored to the IDENTICAL
    # deterministic value, so the final distinct collapses duplicates after
    # the threshold filter has already shrunk the row set
    return (
        rescored.select(
            "vec_a", "vec_b", (F.round("sim", 4) + F.lit(0.0)).alias("sim_r")
        )
        .filter(F.col("sim_r") >= threshold)
        .distinct()
    )
