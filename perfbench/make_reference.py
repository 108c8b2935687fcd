"""Rebuild ``reference.json``, the expected results of the query_suite
sample. Run from the repository root on a tree whose queries pass the
DuckDB oracle (``scripts/check_correctness.py``):

    python3 perfbench/make_reference.py

Each query runs twice; a query whose value fingerprint differs between
the two runs is recorded without one (row count and columns only).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.getcwd())

from queries import REFERENCE, describe, sample, sf_dir  # noqa: E402


def main() -> None:
    import __spark_entry__ as entry
    from lamindb_spark.session import get_spark

    spark = get_spark("perfbench-reference")
    try:
        ref = {}
        for name, fn in sample(entry).items():
            a, b = (describe(fn(spark, sf_dir(entry)).toPandas()) for _ in range(2))
            if a["fingerprint"] != b["fingerprint"]:
                a["fingerprint"] = None
            ref[name] = a
            print(f"{name}: {a}", file=sys.stderr)
    finally:
        spark.stop()
    with open(REFERENCE, "w") as fh:
        json.dump(ref, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
