"""Benchmark of lamindb_spark: the registry (catalog + lineage) and a
sample of the query suite, on ``get_spark()`` in one process with one
client thread in a closed loop.

Run from the repository root:

    python3 perfbench/run.py --workload registry --seed 1 --seconds 20 --trace 0

Workloads: ``registry`` and ``query_suite`` (see NOTES.md). With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run, and the
full per-op trace is written to ``.perfbench_out/`` in the repository
root. Every metric named in ``BENCHMARK.json`` is printed; a per-layer
metric of a layer the workload does not exercise reads 0.

Each run executes a fixed, seed-generated sequence of ops, never a
fixed duration: ``--seconds`` is the nominal length the sequences were
sized to on a 4-core host and is only echoed to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

WORKLOADS = ("registry", "query_suite")
ROOT = os.getcwd()


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "lamindb_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (lamindb_spark/ not found)",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"(nominal {args.seconds} s)", file=sys.stderr)

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every scratch file of Spark, the JVM and Python inside the
    # checkout (-UsePerfData: no /tmp/hsperfdata_<user> file)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = shlex.quote(f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {java_opts} pyspark-shell"
    )
    tempfile.tempdir = os.path.join(work, "tmp")
    spark = None
    try:
        from lamindb_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - T_START
        if args.workload == "registry":
            import registry as workload
        else:
            import queries as workload
        res = workload.run(spark, work, args.seed, bool(args.trace), T_START, session_s)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    got = res["metrics"]
    undeclared = sorted(set(got) - set(declared))
    if undeclared:
        raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {undeclared}")
    for n, (_v, unit) in got.items():
        if unit != declared[n]:
            raise SystemExit(f"perfbench: {n} is in {unit}, declared {declared[n]}")
    metrics = {n: {"value": got[n][0] if n in got else 0, "unit": unit}
               for n, unit in declared.items()}
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"metrics": metrics, "detail": res.get("detail"),
                       "digest": res.get("digest")}, fh, indent=1, default=str)
        print(f"perfbench: trace written to {path}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
