"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 3 --trace 0

Run from the root of a source checkout.  ``--trace 0`` measures the
workload's batches and reports the end-to-end metrics; ``--trace 1`` also runs queries (BM25
ones for ``--seconds``) and reports the per-layer metrics from spans
recorded around the benchmark's engine calls, and writes those spans to
``.perfbench_out/``.  Inputs come from ``--seed`` alone.  Spark runs on
``local[<usable cores>]`` with its local and temp dirs under a per-run
directory in the checkout, removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import zipfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import proc  # noqa: E402
from perfbench.workloads import END_TO_END, WORKLOADS, Run, per_layer_units  # noqa: E402

# caps the driver JVM heap: the engine's default (24g) assumes a dedicated
# host, and a run peaks at about 3.5 GB over the whole process tree
DRIVER_MEMORY = "3g"


def _package_zip_into(tmp: str):
    """The engine zips itself for Python workers at a fixed path under
    /tmp; build the same archive inside the run directory instead, so the
    benchmark writes nowhere outside its checkout."""

    def package_zip() -> str:
        pkg = os.path.join(ROOT, "searchengine_spark")
        out = os.path.join(tmp, "searchengine_spark_pkg.zip")
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _, filenames in os.walk(pkg):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, ROOT))
        return out

    return package_zip


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import searchengine_spark.session as session
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "spark-local"))
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    session.package_zip = _package_zip_into(tmp)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp, T_START)
    try:
        with proc.captured_stderr(os.path.join(tmp, "stderr.log")) as cap:
            try:
                WORKLOADS[args.workload](run)
                e2e = run.end_to_end()
            finally:
                run.finish()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    codegen = proc.codegen_errors(cap["text"])
    if codegen:
        print(f"perfbench: {codegen} 'ERROR CodeGenerator' line(s): an expression "
              "fell back to interpreted evaluation", file=sys.stderr)
    if args.trace:
        metrics = run.per_layer(e2e, proc.warning_lines(cap["text"]))
        units = per_layer_units()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics, units = e2e, END_TO_END
    result = {
        "correct": run.attempted > 0 and run.failed == 0 and not codegen,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }
    print(json.dumps(result), flush=True)
    return 1 if codegen else 0


if __name__ == "__main__":
    sys.exit(main())
