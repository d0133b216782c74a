"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the baseline (one scan, no shuffle before the
TakeOrderedAndProject heap); the LSH-bucketed variant (random-hyperplane
signatures -> bucket join) is the 100 TB scale path — candidates are
co-partitioned by bucket so the pairwise work is local.

Dot products use F.zip_with + F.aggregate with explicit double casts — a
deterministic left-to-right fold, bit-identical to the SQL twin's
list_transform/list_sum evaluation.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..worker import engine_kernel


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism when
    the input arrives in fewer partitions (e.g. one small parquet file), so
    Arrow kernels use every core.  At 100 TB the input is already
    many-partitioned and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # inputFiles() comes from the analyzed plan's file index — no
        # physical planning.  With >= defaultParallelism files the scan
        # already parallelizes under default conf: FilePartition packing
        # sizes splits by max(openCostInBytes, totalBytes/minPartitionNum)
        # capped at maxPartitionBytes, and minPartitionNum defaults to
        # defaultParallelism — so small files pack into ~parallelism bins
        # (never a handful), and large files split by size into even more.
        # A wide input (the 100 TB case) short-circuits here without
        # planning the query.
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    try:
        # JVM-side partition count: avoids df.rdd's javaToPython conversion,
        # which rebuilds the plan with a Python-serializer stage per call.
        # Only reached for few-file or derived inputs, where the planning
        # cost is dwarfed by the kernel work _spread is sizing.
        n_parts = df._jdf.rdd().getNumPartitions()
    except Exception:
        n_parts = df.rdd.getNumPartitions()
    if n_parts < target:
        return df.repartition(target)
    return df


# expected bucket occupancy is N / 2^n_planes: at FIXED planes it grows
# linearly with the corpus, and the per-bucket kernels do O(occupancy^2)
# pair work — the same defect class as core-count-sized shuffle partitions
# (round 3's build fix).  Entry points therefore default n_planes to
# auto_n_planes(N) and accept an explicit value for pinned-parameter gates.
TARGET_BUCKET_OCCUPANCY = 64


def auto_n_planes(n_vectors: int, target: int = TARGET_BUCKET_OCCUPANCY, floor: int = 4) -> int:
    """Plane count that keeps expected bucket occupancy ~constant as the
    corpus grows: ceil(log2(N / target)), floored for tiny inputs.  10x the
    vectors -> ~3.3 more planes -> same expected pair work per bucket."""
    if n_vectors <= target:
        return floor
    return max(floor, math.ceil(math.log2(n_vectors / target)))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10, qvec: list[float] | None = None
) -> DataFrame:
    """Top-k neighbors of one stored vector by cosine similarity.
    Returns (vec_id, sim_r) ordered by rounded similarity desc, vec_id asc —
    the rounding makes the k-boundary deterministic across engines.
    Pass ``qvec`` when the query vector is already on the driver to skip the
    point-lookup job."""
    if qvec is None:
        qrow = embeddings.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
        if not qrow:
            raise ValueError(f"vec_id {query_vec_id} not found")
        qvec = [float(v) for v in qrow[0]["embedding"]]
    else:
        qvec = [float(v) for v in qvec]
    qnorm = math.sqrt(sum(v * v for v in qvec))
    qcol = F.array(*[F.lit(v) for v in qvec])

    sim = _dot(F.col("embedding"), qcol) / (_norm(F.col("embedding")) * F.lit(qnorm))
    # +0.0 normalizes any -0.0 from rounding so both engines hash alike
    return (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", (F.round(sim, 4) + F.lit(0.0)).alias("sim_r"))
        .orderBy(F.desc("sim_r"), F.asc("vec_id"))
        .limit(k)
    )


def _bucket_expr(planes: list[list[float]]):
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        pcol = F.array(*[F.lit(v) for v in plane])
        bit = (_dot(F.col("embedding"), pcol) >= 0).cast("long")
        bucket = bucket + (bit * F.lit(2**i))
    return bucket


def hyperplane_signatures_expr(
    embeddings: DataFrame, n_planes: int = 8, n_tables: int = 1, seed: int = 42
) -> DataFrame:
    """Pure-expression signatures — the SQL-twin shape.  Spark evaluates the
    zip_with/aggregate dot-product folds interpreted (outside codegen), so
    this path is ~10x slower than the kernel below; kept as the semantic
    baseline (tested bit-equal, signatures are sign decisions on identical
    float64 folds)."""
    dim = int(embeddings.select(F.size("embedding").alias("d")).first()["d"])
    cols = [embeddings["vec_id"], embeddings["embedding"]]
    for t in range(n_tables):
        planes = _lcg_planes(n_planes, dim, seed + 7919 * t)
        cols.append(_bucket_expr(planes).alias(f"bucket_{t}"))
    return embeddings.select(*cols)


def hyperplane_signatures(
    embeddings: DataFrame,
    n_planes: int = 8,
    n_tables: int = 1,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: per table t, the sign pattern of
    n_planes seeded projections -> integer bucket column ``bucket_t``.

    Per-table collision probability for neighbors at angle theta is
    (1 - theta/pi)^n_planes; n_tables amortizes it to
    1 - (1 - p)^n_tables — tune (n_planes up = cheaper, n_tables up =
    higher recall).  Planes come from a deterministic LCG so executors and
    the oracle agree without shipping state.  At 100 TB these bucket
    columns are materialized at ingest and used as partition keys, making
    candidate generation a partition-pruned scan.

    Production path: an Arrow numpy kernel whose dot products accumulate
    STRICTLY left to right over the vector dimension (a vectorized
    column-loop, one fused multiply-add per dimension across the whole
    batch) — bit-identical to the expression fold / DuckDB list_sum, so the
    sign decisions and bucket ids match the SQL twin exactly
    (test_pipeline_ops parity).  Pass ``dim`` when the caller already knows
    the vector width to skip the probing job."""
    if dim is None:
        row = embeddings.select(F.size("embedding").alias("d")).first()
        if row is None:  # empty input: no planes needed, empty output
            dim = 0
        else:
            dim = int(row["d"])
    all_planes = [
        _lcg_planes(n_planes, dim, seed + 7919 * t) for t in range(n_tables)
    ]
    pow2 = [2**p for p in range(n_planes)]

    @engine_kernel
    def fn(iterator):
        import numpy as np
        import pandas as pd

        # (n_tables*n_planes, dim) float64 plane matrix
        pm = np.array([p for planes in all_planes for p in planes], dtype=np.float64)
        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            emb = np.array([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            # strict left-to-right fold over dim: acc += emb[:, i] * plane[i]
            acc = np.zeros((n, pm.shape[0]), dtype=np.float64)
            for i in range(dim):
                acc += emb[:, i : i + 1] * pm[:, i]
            bits = acc >= 0
            out = {"vec_id": pdf["vec_id"], "embedding": pdf["embedding"]}
            for t in range(n_tables):
                b = np.zeros(n, dtype=np.int64)
                for p in range(n_planes):
                    b += bits[:, t * n_planes + p] * pow2[p]
                out[f"bucket_{t}"] = b
            yield pd.DataFrame(out)

    # carry the embedding column's ACTUAL type through (array<float> vs
    # array<double> — hard-coding float would silently truncate double
    # embeddings before the exact rescore)
    emb_type = embeddings.schema["embedding"].dataType.simpleString()
    schema = f"vec_id long, embedding {emb_type}, " + ", ".join(
        f"bucket_{t} long" for t in range(n_tables)
    )
    return _spread(embeddings.select("vec_id", "embedding")).mapInPandas(fn, schema=schema)


def _lcg_planes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    state = seed & 0x7FFFFFFF
    out = []
    for _ in range(n_planes):
        plane = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            plane.append(state / float(1 << 31) - 0.5)
        out.append(plane)
    return out


def _buckets_for_vec(vec, n_planes: int, n_tables: int, seed: int, dim: int) -> list[int]:
    """Driver-side bucket ids for one vector — the same strict left-to-right
    float64 accumulation as the signature kernel, so the ids are
    bit-identical to the distributed computation."""
    import numpy as np

    v = np.asarray(vec, dtype=np.float64)
    out = []
    for t in range(n_tables):
        planes = _lcg_planes(n_planes, dim, seed + 7919 * t)
        b = 0
        for p, plane in enumerate(planes):
            acc = np.float64(0.0)
            for i in range(dim):
                acc = acc + v[i] * np.float64(plane[i])
            if acc >= 0:
                b += 2**p
        out.append(b)
    return out


def _lsh_topk_from_signed(signed: DataFrame, n_tables: int, query_vec_id: int, k: int) -> DataFrame:
    qrow = signed.filter(F.col("vec_id") == query_vec_id).first()
    if qrow is None:
        raise ValueError(f"vec_id {query_vec_id} not found")
    cond = None
    for t in range(n_tables):
        eq = F.col(f"bucket_{t}") == int(qrow[f"bucket_{t}"])
        cond = eq if cond is None else cond | eq
    candidates = signed.filter(cond).select("vec_id", "embedding")
    # qrow already carries the embedding: pass it through so cosine_topk
    # skips its own point-lookup job (one scan instead of two)
    return cosine_topk(candidates, query_vec_id, k=k, qvec=list(qrow["embedding"]))


def lsh_cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int | None = None,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing the query's bucket in
    ANY table (union-of-buckets OR-filter, one scan), then exact cosine
    re-rank within the candidate set.  One-shot form — signatures are
    recomputed per call; for repeated queries use LshIndex, which
    materializes them once (the at-ingest story for 100 TB)."""
    # one-shot path avoids a first full signature pass just to read the
    # query's buckets: fetch the query vector (parquet-pushed point lookup),
    # compute ITS buckets driver-side with the identical fold, then run a
    # single signature+filter pass over the corpus
    qrow = embeddings.filter(F.col("vec_id") == query_vec_id).select("embedding").first()
    if qrow is None:
        raise ValueError(f"vec_id {query_vec_id} not found")
    if n_planes is None:
        n_planes = auto_n_planes(embeddings.count())
    dim = len(qrow["embedding"])
    qbuckets = _buckets_for_vec(qrow["embedding"], n_planes, n_tables, seed, dim)
    signed = hyperplane_signatures(embeddings, n_planes=n_planes, n_tables=n_tables, seed=seed)
    cond = None
    for t in range(n_tables):
        eq = F.col(f"bucket_{t}") == qbuckets[t]
        cond = eq if cond is None else cond | eq
    candidates = signed.filter(cond).select("vec_id", "embedding")
    # qvec already fetched: the rescore is ONE pass over the corpus
    return cosine_topk(candidates, query_vec_id, k=k, qvec=list(qrow["embedding"]))


class LshIndex:
    """Bucket-materialized ANN index: signatures are computed ONCE at ingest
    and cached (at 100 TB: written as partition columns so candidate
    generation is a partition-pruned scan); each query is then a bucket
    OR-filter + exact re-rank over candidates only.  Same results as
    lsh_cosine_topk with identical parameters (tested)."""

    def __init__(
        self,
        embeddings: DataFrame,
        n_planes: int | None = None,
        n_tables: int = 16,
        seed: int = 42,
    ):
        if n_planes is None:
            n_planes = auto_n_planes(embeddings.count())
        self.n_planes = n_planes
        self.n_tables = n_tables
        self.signed = hyperplane_signatures(
            embeddings, n_planes=n_planes, n_tables=n_tables, seed=seed
        ).persist()

    def topk(self, query_vec_id: int, k: int = 10) -> DataFrame:
        return _lsh_topk_from_signed(self.signed, self.n_tables, query_vec_id, k)

    def unpersist(self) -> None:
        self.signed.unpersist()
