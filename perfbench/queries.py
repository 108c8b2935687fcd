"""``query_suite`` workload: a fixed sample of the ``__spark_entry__``
queries at sf0.1, each built and materialized with Arrow ``toPandas``.

The sample is every ``STRIDE``-th entry of ``queries()`` in its
declared order (the full 124-query suite takes minutes per pass on a
4-core host, far past one run's time budget). Set-up runs one untimed
pass over the sample; the timed part runs ``PASSES`` more passes and
keeps, per query, the best of them. Every
result is checked against ``reference.json``: row count, column list
and, where the result is deterministic, an order-insensitive value
fingerprint.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys
import time
import traceback

from harness import Tracer, gmean, memory, memory_layers, memory_mb

STRIDE = 12
PASSES = 2
REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")
# lamindb_spark sub-packages that implement queries of the sample; "sql"
# is the plain DataFrame API (the TPC-H family), "other" any other package
MODULES = ("curation", "operators", "pipeline", "sql", "other")
_STAGE_SUMS = ("jobs", "stages", "tasks", "executor_run_ms", "input_bytes",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def sf_dir(entry) -> str:
    """The sf0.1 tables, next to the smoke tables ``__spark_entry__`` names."""
    return os.path.join(os.path.dirname(entry.SF_SMOKE), "sf0.1")


def sample(entry) -> dict:
    return dict(list(entry.queries().items())[::STRIDE])


def implementing_module(fn, entry) -> str:
    """The first ``lamindb_spark`` sub-package a query's code refers to,
    following calls into ``__spark_entry__`` helpers; ``load_table``
    (used by nearly every query) counts only when nothing else does."""
    found: list[str] = []
    seen: set = set()

    def walk(code):
        for name in code.co_names:
            if name.startswith("lamindb_spark."):
                found.append(name)
                continue
            obj = vars(entry).get(name)
            mod = getattr(obj, "__module__", None) or ""
            if mod == entry.__name__ and hasattr(obj, "__code__") and obj not in seen:
                seen.add(obj)
                walk(obj.__code__)
            elif mod.startswith("lamindb_spark."):
                found.append(mod)
        for const in code.co_consts:
            if hasattr(const, "co_names"):
                walk(const)

    walk(fn.__code__)
    specific = [m for m in found if m != "lamindb_spark.sources.readers"]
    if not specific:
        return "sql"
    pkg = specific[0].split(".")[1]
    return pkg if pkg in MODULES else "other"


def _canon(v):
    """A hashable, print-stable form of one cell; floats keep 6
    significant digits so summation order cannot change the digest."""
    if v is None:
        return None
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.6g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.6g}")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    return v


def fingerprint(pdf) -> str:
    rows = sorted(repr(tuple(_canon(x) for x in row)) for row in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def describe(pdf) -> dict:
    return {"rows": int(len(pdf)), "columns": [str(c) for c in pdf.columns],
            "fingerprint": fingerprint(pdf)}


def check(ref: dict | None, pdf) -> bool:
    if ref is None:
        return False
    got = describe(pdf)
    if got["rows"] != ref["rows"] or got["columns"] != ref["columns"]:
        return False
    return ref["fingerprint"] is None or got["fingerprint"] == ref["fingerprint"]


def _run_pass(spark, sf: str, qs: dict, refs: dict, tracer: Tracer | None,
              out: dict) -> float:
    """One pass over ``qs``; appends per-query records to ``out`` and
    returns the pass's query time in seconds (result checks excluded)."""
    total_ms = 0.0
    for name, fn in qs.items():
        rec = {"ok": False}
        group = tracer.begin(name) if tracer else None
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            t1 = t2 = time.perf_counter()
            pdf = None
        if group is not None:
            rec.update(tracer.end(group))
        rec["build_ms"] = (t1 - t0) * 1000.0
        rec["collect_ms"] = (t2 - t1) * 1000.0
        rec["wall_ms"] = (t2 - t0) * 1000.0
        total_ms += rec["wall_ms"]
        if pdf is not None:
            rec["result_rows"] = len(pdf)
            rec["result_bytes"] = int(pdf.memory_usage(index=False, deep=True).sum())
            try:
                rec["ok"] = check(refs.get(name), pdf)
            except Exception:
                traceback.print_exc(file=sys.stderr)
            if not rec["ok"]:
                print(f"perfbench: {name} result differs from the reference", file=sys.stderr)
        out.setdefault(name, []).append(rec)
    return total_ms / 1000.0


def run(spark, work: str, seed: int, trace: bool, t_start: float, session_s: float) -> dict:
    import __spark_entry__ as entry

    with open(REFERENCE) as fh:
        refs = json.load(fh)
    # the inputs are the fixed sf0.1 tables, so the seed changes nothing:
    # every run executes the same queries in the same order
    qs = sample(entry)
    names = list(qs)
    digest = hashlib.sha256(json.dumps(names).encode()).hexdigest()[:16]
    print(f"perfbench: query_suite sequence digest {digest} ({len(names)} queries)",
          file=sys.stderr)
    warm: dict = {}
    sf = sf_dir(entry)
    warm_s = _run_pass(spark, sf, qs, refs, None, warm)
    tracer = Tracer(spark) if trace else None
    recs: dict = {}
    setup_s = time.perf_counter() - t_start
    pass_s = [_run_pass(spark, sf, qs, refs, tracer, recs) for _ in range(PASSES)]
    wall = sum(pass_s)
    attempted = sum(len(v) for v in recs.values()) + sum(len(v) for v in warm.values())
    failed = sum(1 for v in recs.values() for r in v if not r["ok"])
    failed += sum(1 for v in warm.values() for r in v if not r["ok"])
    # per-query best of the timed passes (bench.py's steady convention):
    # interference from other tenants only ever slows a pass down
    best = {n: min(r["wall_ms"] for r in v) for n, v in recs.items()}
    print("perfbench: per-query ms: " + ", ".join(
        f"{n} " + "/".join(f"{r['wall_ms']:.0f}" for r in v) for n, v in recs.items()),
        file=sys.stderr)
    out = {"attempted": attempted, "failed": failed, "digest": digest}
    if not trace:
        out["metrics"] = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(names) * PASSES / wall, "1/s"),
            "ok_frac": ((attempted - failed) / attempted, "frac"),
            "latency_gmean_ms": (gmean(list(best.values())), "ms"),
            "memory_mb": (memory_mb(memory(spark)), "MB"),
        }
        return out

    def per_pass(field: str) -> float:
        return sum(r.get(field, 0) for v in recs.values() for r in v) / PASSES

    m = {
        "session.start_s": (session_s, "s"),
        "plan.build_ms": (per_pass("build_ms"), "ms"),
        "exec.collect_ms": (per_pass("collect_ms"), "ms"),
        "transfer.result_rows": (per_pass("result_rows"), "count"),
        "transfer.result_bytes": (per_pass("result_bytes"), "B"),
    }
    units = {"jobs": "count", "stages": "count", "tasks": "count", "executor_run_ms": "ms"}
    for f in _STAGE_SUMS:
        m[f"exec.{f}"] = (per_pass(f), units.get(f, "B"))
    by_mod = {mod: 0.0 for mod in MODULES}
    for n, ms in best.items():
        by_mod[implementing_module(qs[n], entry)] += ms
    for mod, ms in by_mod.items():
        m[f"query.{mod}.steady_ms"] = (ms, "ms")
    m["cache.cold_excess_ms"] = ((warm_s - sum(pass_s) / PASSES) * 1000.0, "ms")
    m["trace.overhead_frac"] = (tracer.self_s / wall, "frac")
    m.update(memory_layers(spark))
    out["metrics"] = m
    out["detail"] = recs
    return out
