#!/usr/bin/env python
"""Physical-plan audit: verify the plans Catalyst produces are the plans the
design claims (SURVEY.md §4), and record them to PLANS.md.

Checks:
  1. term-filter postings scan shows PushedFilters on `term` (the
     "dictionary seek" replacement);
  2. a non-phrase query's scan ReadSchema does NOT include `positions`
     (column pruning = the reference's position-skipping flag);
  3. a phrase query's scan DOES read `positions`;
  4. ranked top-k uses TakeOrderedAndProject (per-partition heap), not a
     global sort;
  5. the scoring aggregation is a partial+final hash aggregate inside
     whole-stage codegen.

Usage: python tools/explain_audit.py [index_dir]  (builds a small index if
no dir given) — writes PLANS.md and exits non-zero on any failed check.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    # fd-2 capture: the JVM inherits it, so janino compile failures
    # (`ERROR CodeGenerator` -> silent interpreted fallback) are caught as a
    # hard audit failure (VERDICT r2 finding 1)
    stderr_file = tempfile.NamedTemporaryFile(mode="w+b", prefix="audit_stderr_", delete=False)
    orig_fd = os.dup(2)
    os.dup2(stderr_file.fileno(), 2)
    try:
        _audit(stderr_file, orig_fd)
    finally:
        if os.fstat(2).st_ino == os.fstat(stderr_file.fileno()).st_ino:
            os.dup2(orig_fd, 2)
        os.close(orig_fd)
        os.unlink(stderr_file.name)


def _audit(stderr_file, orig_fd) -> None:
    """Audit the index named on the command line, or a small one built in a
    temp dir that is removed afterwards (a given dir is left alone)."""
    from searchengine_spark.data.transcripts import generate_turns, spark_schema, turns_as_rows
    from searchengine_spark.indexing.build import build_index, prepare_transcripts
    from searchengine_spark.session import get_spark

    spark = get_spark("explain_audit", cpus=4, shuffle_partitions=8)

    made_dir = None
    try:
        if len(sys.argv) > 1:
            index_dir = sys.argv[1]
        else:
            index_dir = made_dir = tempfile.mkdtemp(prefix="audit_index_")
            rows = turns_as_rows(generate_turns(120, seed=42))
            docs = prepare_transcripts(spark.createDataFrame(rows, spark_schema()))
            build_index(spark, docs, index_dir)
        _check_plans(spark, index_dir, stderr_file, orig_fd)
    finally:
        if made_dir is not None:
            shutil.rmtree(made_dir, ignore_errors=True)


def _check_plans(spark, index_dir: str, stderr_file, orig_fd) -> None:
    from pyspark.sql import functions as F

    from searchengine_spark.indexing.index import SparkIndex
    from searchengine_spark.querying.boolean import boolean_search
    from searchengine_spark.querying.ranked import ranked_search

    index = SparkIndex(spark, index_dir)
    checks: list[tuple[str, bool, str]] = []
    sections: list[tuple[str, str]] = []

    # 1+2: non-phrase postings scan — pushdown + positions pruned
    scan = index.get_postings(["search", "engine"])
    p = plan_of(scan)
    sections.append(("Non-phrase postings scan (R1/R2)", p))
    checks.append(("term filter pushed to parquet scan", "PushedFilters: [In(term" in p.replace("\n", " ") or "term" in p.split("PushedFilters")[1][:120] if "PushedFilters" in p else False, "PushedFilters with term"))
    read_schema = p.split("ReadSchema:")[1].splitlines()[0] if "ReadSchema:" in p else ""
    checks.append(("positions column pruned for non-phrase read", "positions" not in read_schema, f"ReadSchema={read_schema.strip()[:120]}"))

    # 3: phrase path reads positions
    phrase = boolean_search(index, '"search engine"')
    p3 = plan_of(phrase)
    sections.append(("Phrase query (Q5)", p3))
    checks.append(("phrase scan reads positions", "positions" in p3, "positions in plan"))

    # 4+5: ranked top-k — executed first so the AQE-final plan (with
    # WholeStageCodegen spans) is what gets printed
    ranked = ranked_search(index, "search engine index", mode="bm25", k=10)
    ranked.collect()
    p4 = plan_of(ranked)
    sections.append(("Ranked BM25 top-k (K5/K6)", p4))
    checks.append(("top-k via TakeOrderedAndProject", "TakeOrderedAndProject" in p4, "operator present"))
    checks.append(("hash aggregation (no object agg)", "HashAggregate" in p4 and "ObjectHashAggregate" not in p4, f"HashAggregate x{p4.count('HashAggregate')}"))
    # round-5: small queries (total df under the cutoff) collapse to ONE
    # stage — the coalesced scan satisfies the agg's distribution, so no
    # exchange and no second stage appears at all
    checks.append(("small-query ranked plan is single-stage (no Exchange)", "Exchange" not in p4, "no shuffle in plan"))
    checks.append(
        (
            "scoring inside whole-stage codegen",
            "[codegen id :" in p4 or "WholeStageCodegen" in p4,
            "codegen-annotated operators present",
        )
    )

    # 6: LSH near-dup must not plan a cartesian / nested-loop join — the
    # round-1 scale-killer; the candidate join is a (t, bucket) equi-join
    from searchengine_spark.pipeline import near_dup_embedding

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    nd = near_dup_embedding(emb, threshold=0.4, n_planes=4, n_tables=8, seed=42)
    p6 = plan_of(nd)
    sections.append(("Embedding near-dup (LSH candidates + rescore)", p6))
    checks.append(
        (
            "near-dup has no cartesian/nested-loop join",
            "CartesianProduct" not in p6 and "BroadcastNestedLoopJoin" not in p6,
            "only equi-joins in plan",
        )
    )

    # 6b: the stem UDF must stay on the dictionary side of the stem join —
    # constraint propagation once inferred _stem_udf(type) != '' from the
    # term != '' filter and pushed a full-stream ArrowEvalPython pass into
    # every build action (sample + map each paid ~8x)
    from searchengine_spark.text.spark_tokenize import tokenize

    tk_docs = spark.createDataFrame([(0, "running runs"), (1, "jumped")], "doc_id long, text string")
    tk_stream = tokenize(tk_docs).filter(F.col("term") != "")
    p6b = plan_of(tk_stream)
    sections.append(("Token stream (build input: stem join + filter)", p6b))
    # count on the raw executed-plan tree: explain("formatted") lists every
    # node twice (tree line + numbered details section)
    p6b_tree = tk_stream._jdf.queryExecution().executedPlan().toString()
    checks.append(
        (
            "stem UDF only on the dictionary side",
            p6b_tree.count("ArrowEvalPython") == 1,
            f"ArrowEvalPython x{p6b_tree.count('ArrowEvalPython')} (dictionary stem only)",
        )
    )

    # 6c: the build's route shuffle — after the tokenize kernel (ONE
    # MapInPandas, which emits finished, stemmed posting rows) the map side
    # must be pure JVM (the broadcast plan and route joins, NO
    # ArrowEvalPython), with exactly ONE exchange at the planned width
    # (REPARTITION_BY_NUM) and no sampling range partitioner
    from searchengine_spark.indexing.build_dist import (
        GROUPED_SCHEMA,
        _fused_tokenize_group_kernel,
        grouped_tokens,
        plan_route,
        route_rows,
    )

    bd = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 7} gamma the the") for i in range(300)],
        "doc_id long, text string",
    )
    grouped = bd.mapInPandas(_fused_tokenize_group_kernel("text", "doc_id"), schema=GROUPED_SCHEMA)
    route = plan_route(spark, grouped, grouped_tokens(), 8, 8)
    P = route.n_parts
    routed = route_rows(
        spark, route, grouped.filter(F.col("term").isNotNull()), ("doc_len", "l2_weight")
    )
    p6c = routed._jdf.queryExecution().executedPlan().toString()
    sections.append(("Routed posting rows (build map side)", p6c))
    checks.append(
        (
            "build map side is JVM after the tokenize kernel",
            p6c.count("MapInPandas") == 1 and "ArrowEvalPython" not in p6c,
            f"MapInPandas x{p6c.count('MapInPandas')} (the group kernel only), no ArrowEvalPython",
        )
    )
    widths = re.findall(r"Exchange hashpartitioning\(_route#\d+, (\d+)\)", p6c)
    checks.append(
        (
            "one planned exchange at the planned width, no sampling range partitioner",
            p6c.count("Exchange hashpartitioning") == 1
            and widths == [str(P)]
            and "rangepartitioning" not in p6c,
            f"Exchange hashpartitioning(_route, {'/'.join(widths) or '?'}) x1, planned {P}",
        )
    )

    # 7: WAND result is lazy (plan exists pre-collect) and its scoring path
    # contains no forced broadcast of an unbounded candidate set
    from searchengine_spark.querying.wand import ranked_search_wand

    wand_df = ranked_search_wand(index, "search engine index", mode="bm25", k=10)
    p7 = plan_of(wand_df)
    sections.append(("WAND top-k (K6, metadata theta)", p7))
    checks.append(("WAND returns a lazy plan", "TakeOrderedAndProject" in p7, "operator present pre-collect"))

    # 8: every audited query must EXECUTE without a janino compile failure —
    # `ERROR CodeGenerator` means whole-stage codegen silently fell back to
    # interpreted evaluation (the round-2 near_dup regression, ~10x cost)
    nd.count()
    wand_df.count()
    sys.stderr.flush()
    os.dup2(orig_fd, 2)  # restore before reading so later writes are visible
    stderr_file.seek(0)
    captured = stderr_file.read().decode(errors="replace")
    sys.stderr.write(captured)
    n_cg = captured.count("ERROR CodeGenerator")
    checks.append(
        (
            "no janino codegen compile failures",
            n_cg == 0,
            f"'ERROR CodeGenerator' x{n_cg} in driver stderr",
        )
    )

    # write PLANS.md
    out = [
        "# PLANS — physical-plan audit (tools/explain_audit.py)",
        "",
        "Checks that the executed plans deliver the §4 claims: predicate",
        "pushdown as the dictionary seek, column pruning as position",
        "skipping, heap-based top-k, partial aggregation, codegen.",
        "",
        "| check | status | evidence |",
        "|---|---|---|",
    ]
    ok = True
    for name, passed, evidence in checks:
        ok &= bool(passed)
        out.append(f"| {name} | {'PASS' if passed else 'FAIL'} | {evidence} |")
    out.append("")
    for title, plan in sections:
        out.append(f"## {title}\n\n```\n{plan.strip()[:4000]}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))

    for name, passed, _ in checks:
        print(("PASS " if passed else "FAIL ") + name)
    print("wrote PLANS.md")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
