"""Distributed tokenize -> type -> term pipeline (T1-T5) as Spark expressions.

Spark-first design: T1 (split), T2 (hyphen expansion), T3 (cleaning) and T5
(positions) are pure built-in column expressions — JVM-side, whole-stage
codegen, zero Python on the per-token path.  Only T4 (Porter2 stemming) needs
Python, and it runs over the *distinct-token dictionary* via an Arrow-batched
pandas UDF, then joins back (broadcast by default) — the classic
dictionary-normalization pattern that keeps Python cost O(|vocab|), not
O(|tokens|), at 10^12-turn scale.

Semantics replicate reference engine/text/{englishtokenstream.py:12-18,
basictokenprocessor.py:10-36, preprocessing.py:65-80}:
  * split on single space; strip; drop empty raw tokens (they do not consume
    a position)
  * 1-based positions count raw tokens; all hyphen variants share one
  * hyphen token -> '-'-split parts + concatenation of parts, in that order
  * cleaning: strip boundary non-alnum, delete ["' ] anywhere, delete
    non-ASCII, lowercase
  * tokens that clean to "" are emitted as empty terms (they count toward
    doc_length / L_d; the index build filters them out, spimi.py:137)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..worker import engine_kernel
from .porter2 import stem


def _clean_expr(col: Column) -> Column:
    """T3 cleaning chain — identical regexes to the reference
    (basictokenprocessor.py:24-34)."""
    c = F.regexp_replace(col, r"^[^a-zA-Z0-9]+|[^a-zA-Z0-9]+$", "")
    c = F.regexp_replace(c, r"[\"' ]", "")
    c = F.regexp_replace(c, r"[^\x00-\x7F]+", "")
    return F.lower(c)


@F.pandas_udf(StringType())
@engine_kernel
def _stem_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(stem)


# The UDF is in fact deterministic, but it must be DECLARED nondeterministic:
# otherwise Catalyst's constraint propagation sees term = _stem_udf(type) in
# the dictionary projection, infers `_stem_udf(type) != ''` from any
# downstream `term != ''` filter, and pushes the Python UDF below the join —
# onto EVERY ROW of the token stream.  Each build action (the range
# partitioner's sample pass, the shuffle map pass) then paid a full-stream
# ArrowEvalPython stemming pass (~8x the whole pass cost, observed live in
# the executed plan), silently defeating the stem-over-the-dictionary
# design.  Declaring it nondeterministic only disables such rewrites; the
# stem itself still runs once per distinct type.
_stem_udf = _stem_udf.asNondeterministic()


def _types_kernel(text_col: str, id_col: str):
    """Arrow kernel twin of the T1-T3 expression chain: (doc_id, text)
    batches -> (doc_id, position, type) rows, entirely in pyarrow.compute
    (re2 regex, vectorized C++) with numpy only for the per-doc position
    arithmetic.  Measured ~8x the throughput of the JVM regexp_replace
    chain on transcript text, and it streams better at high parallelism —
    the expression chain's per-token string allocations made the stats
    stage the worst-scaling phase of the build (CPU time itself inflated
    +50% from 2 to 8 cores).

    Exactness contract (enforced by test_tokenize_kernel_matches_expression,
    the oracle-parity tests, and the `tokenize` gate): same split semantics
    (regex [ \\n], empties kept then stripped+dropped), Java \\s strip class
    written out as [ \\t\\n\\x0B\\f\\r] (re2's \\s lacks \\x0B), hyphen
    variants = parts-then-concatenation sharing one position, cleaning
    regexes identical, empty types retained.  Row ORDER within a partition
    may differ from the expression plan (hyphen variants are emitted
    grouped); every consumer is order-independent (aggregations, the range
    shuffle, sorted gates)."""

    @engine_kernel
    def fn(iterator):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        WS = r"[ \t\n\x0B\f\r]"
        for pdf in iterator:
            if not len(pdf):
                continue
            texts = pa.Array.from_pandas(pdf[text_col], type=pa.string())
            doc_ids = pdf[id_col].to_numpy()
            # T1: split on [ \n]; strip Java-\s ends; drop empties
            lists = pc.split_pattern_regex(texts, "[ \n]")
            flat = pc.list_flatten(lists)
            parent = pc.list_parent_indices(lists).to_numpy()
            stripped = pc.replace_substring_regex(flat, f"^{WS}+|{WS}+$", "")
            keep = pc.greater(pc.utf8_length(stripped), 0)
            kept = pc.filter(stripped, keep)
            pnp = parent[keep.to_numpy(zero_copy_only=False)]
            n = len(pnp)
            if n == 0:
                continue
            # 1-based position per doc over the kept tokens
            idx = np.arange(n, dtype=np.int64)
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = pnp[1:] != pnp[:-1]
            first = np.maximum.accumulate(np.where(change, idx, 0))
            pos = (idx - first + 1).astype("int32")
            # T2: hyphen expansion — parts + dehyphenated concat, same pos
            def _arr(a):
                return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a

            has_h = pc.match_substring(kept, "-").to_numpy(zero_copy_only=False)
            if has_h.any():
                nh_idx = np.flatnonzero(~has_h)
                h_idx = np.flatnonzero(has_h)
                kept_h = pc.filter(kept, pa.array(has_h))
                parts = pc.split_pattern(kept_h, "-")
                parts_flat = pc.list_flatten(parts)
                parts_parent = h_idx[pc.list_parent_indices(parts).to_numpy()]
                dehyph = pc.replace_substring(kept_h, "-", "")
                variants = pa.concat_arrays(
                    [
                        _arr(pc.filter(kept, pa.array(~has_h))).cast(pa.string()),
                        _arr(parts_flat).cast(pa.string()),
                        _arr(dehyph).cast(pa.string()),
                    ]
                )
                row = np.concatenate([nh_idx, parts_parent, h_idx])
            else:
                variants = _arr(kept)
                row = idx
            # T3: cleaning chain + lower (identical regexes, re2)
            c = pc.replace_substring_regex(variants, "^[^a-zA-Z0-9]+|[^a-zA-Z0-9]+$", "")
            c = pc.replace_substring_regex(c, "[\"' ]", "")
            c = pc.replace_substring_regex(c, r"[^\x00-\x7F]+", "")
            typ = pc.utf8_lower(c)
            yield pd.DataFrame(
                {
                    id_col: doc_ids[pnp[row]],
                    "position": pos[row],
                    "type": typ.to_pandas(),
                }
            )

    return fn


def tokenize(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_stems: bool = True,
    persist_types: bool = False,
    use_kernel: bool = True,
) -> DataFrame:
    """(doc_id, text) -> (doc_id, position, term) including empty terms.

    The type stream (T1-T3) runs in the Arrow kernel by default
    (_types_kernel; use_kernel=False selects the pure-expression twin, kept
    as the cross-engine semantic baseline and asserted row-identical in
    tests).  The stem dictionary is a distinct-aggregate of *types*
    (post-cleaning), typically tiny relative to the corpus, broadcast back
    onto the token stream.

    persist_types=True caches the post-cleaning (doc_id, position, type)
    stream: the stem-dictionary subquery and every downstream consumer then
    reuse one execution of the tokenize pass instead of re-running it
    per action (the returned DataFrame carries the cache handle as
    ``._types_cache`` for unpersisting).
    """
    # T1: split on single space, strip each, drop empties (no position burn).
    # Newlines also separate: the reference tokenizes line by line with a
    # position counter running across lines (preprocessing.py:65-80), so a
    # token can never span a line break — splitting on [ \n] reproduces that
    # for multi-line docs (wholetext file sources) and is identity for the
    # single-line transcript rows.
    if use_kernel:
        types = docs.select(id_col, text_col).mapInPandas(
            _types_kernel(text_col, id_col),
            schema=f"{id_col} long, position int, type string",
        )
    else:
        raw_tokens = F.filter(
            F.transform(
                F.split(F.col(text_col), "[ \n]"),
                lambda x: F.regexp_replace(x, r"^\s+|\s+$", ""),
            ),
            lambda x: F.length(x) > 0,
        )
        toks = docs.select(id_col, F.posexplode(raw_tokens).alias("pos0", "tok"))

        # T2: hyphen expansion, order = parts then concatenation
        variants = F.when(
            F.col("tok").contains("-"),
            F.concat(
                F.split(F.col("tok"), "-"),
                F.array(F.regexp_replace(F.col("tok"), "-", "")),
            ),
        ).otherwise(F.array(F.col("tok")))

        types = toks.select(
            id_col,
            (F.col("pos0") + 1).alias("position"),
            F.explode(variants).alias("variant"),
        ).select(id_col, "position", _clean_expr(F.col("variant")).alias("type"))
    if persist_types:
        types = types.persist()

    # T4: stem over the distinct-type dictionary, join back
    stem_map = types.select("type").distinct().withColumn("term", _stem_udf(F.col("type")))
    if broadcast_stems:
        stem_map = F.broadcast(stem_map)
    out = types.join(stem_map, "type").select(id_col, "position", "term")
    if persist_types:
        out._types_cache = types
    return out


def tokenize_query_expr(text_col: Column) -> Column:
    """The same T1-T3 pipeline as a single array expression (no stemming) —
    used by tests and by matches()-style predicate evaluation (Q7)."""
    raw_tokens = F.filter(
        F.transform(F.split(text_col, "[ \n]"), lambda x: F.regexp_replace(x, r"^\s+|\s+$", "")),
        lambda x: F.length(x) > 0,
    )
    variants = F.flatten(
        F.transform(
            raw_tokens,
            lambda tok: F.when(
                tok.contains("-"),
                F.concat(F.split(tok, "-"), F.array(F.regexp_replace(tok, "-", ""))),
            ).otherwise(F.array(tok)),
        )
    )
    return F.transform(variants, _clean_expr)
