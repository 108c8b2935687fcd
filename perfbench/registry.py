"""``registry`` workload: the lamindb write flow and registry reads,
interleaved, on one lake built by the benchmark.

Set-up builds a fixture through the bulk public API (``register_dir``
and ``annotate_many``, one commit per batch) and runs one warm-up pass
of every op kind. The timed part is a fixed, seed-generated op
sequence: flow cycles (``Context.track`` -> ``register_artifact`` as
new key / version bump / dedup hit -> ``annotate_many`` ->
``link_labels`` -> ``finish``) with reads (``get``, ``filter``,
``describe_artifact``, ``to_dataframe``, ``open_artifact`` ->
``toPandas``) interleaved between them. Every op kind has one call
shape, so per-kind latencies never pool different calls.

Every output is checked against ``Model``, the benchmark's own record
of what the catalog must contain.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from harness import (Recorder, Tracer, gmean, memory, memory_layers, memory_mb, parquet_files,
                     percentile, tree_bytes)

FIXTURE_BATCHES = 1
FIXTURE_FILES = 500  # per batch; artifact keys fx/b<batch>/f<idx>.parquet
TISSUES = ("blood", "brain", "liver", "lung")
LABELS = 12
CYCLES = 1
CYCLE_WRITES = {"register": 2, "version": 1, "dedup": 1}
# 40 gets leave 10 samples beyond the reported get p75
READS = {"get": 40, "filter": 8, "describe": 2, "to_dataframe": 2, "open": 2}
PAYLOAD_BYTES = 32 * 1024
TRANSFORM_KEY = "perfbench/ingest.py"

# per-layer split (jobs, scan bytes, time in Spark jobs, time outside them)
SPLIT = {
    "register": ("jobs", "input_bytes", "exec_ms", "driver_ms"),
    "version": ("jobs", "exec_ms", "driver_ms"),
    "dedup": ("jobs",),
    "get": ("jobs", "input_bytes", "exec_ms", "driver_ms"),
    "filter": ("jobs", "exec_ms", "driver_ms"),
}
UNITS = {"jobs": "count", "input_bytes": "B", "exec_ms": "ms", "driver_ms": "ms"}

READ_KINDS = tuple(READS)


# ------------------------------------------------------------------ plan


@dataclass
class Plan:
    fixture: list[list[dict]]  # per batch: {"idx", "rows", "tissue", "score"}
    warmup: list[tuple[str, dict]]
    timed: list[tuple[str, dict]]

    def digest(self) -> str:
        blob = json.dumps(
            {"fixture": self.fixture, "warmup": self.warmup, "timed": self.timed},
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def spread(counts: dict[str, int]) -> list[str]:
    """Each kind ``counts[k]`` times, in a fixed order that spaces every
    kind evenly through the sequence."""
    slots = sorted(((i + 0.5) / n, k) for k, n in counts.items() for i in range(n))
    return [k for _pos, k in slots]


def _cycle(rng: random.Random, tag: str, writes: dict[str, int],
           versionable: list[str]) -> list[tuple[str, dict]]:
    """One flow cycle in a fixed kind order; the seed picks keys, bytes
    and targets."""
    out: list[tuple[str, dict]] = [("track", {})]
    for n, k in enumerate(spread(writes)):
        if k == "version" and not versionable:
            raise ValueError("a version bump is ordered before any registration")
        if k == "register":
            key = f"{tag}/r{n}.bin"
            out.append((k, {"key": key, "payload": rng.getrandbits(63)}))
            versionable.append(key)
        elif k == "version":
            out.append((k, {"key": rng.choice(versionable), "payload": rng.getrandbits(63)}))
        else:
            out.append((k, {"batch": rng.randrange(FIXTURE_BATCHES),
                            "idx": rng.randrange(FIXTURE_FILES)}))
    out.append(("annotate", {"value": rng.randrange(1000)}))
    out.append(("link_labels", {"labels": sorted(rng.sample(range(LABELS), 3))}))
    out.append(("finish", {}))
    return out


def _read(rng: random.Random, kind: str, n: int) -> tuple[str, dict]:
    b = rng.randrange(FIXTURE_BATCHES)
    if kind == "filter":
        return kind, {"batch": b, "tissue": rng.choice(TISSUES)}
    if kind == "to_dataframe":
        return kind, {"batch": b, "decade": rng.randrange(FIXTURE_FILES // 10)}
    if kind == "get" and n % 5 == 4:
        return kind, {"ingested": rng.random()}  # a key the flow wrote
    return kind, {"batch": b, "idx": rng.randrange(FIXTURE_FILES)}


def make_plan(seed: int) -> Plan:
    """The op sequence for ``seed``. The seed picks keys, payload bytes,
    feature values and targets; the kinds and their order are the same
    for every seed, so seeds differ in content, not in shape."""
    rng = random.Random(seed)
    fixture = [
        [
            {"idx": i, "rows": rng.randrange(5, 50), "tissue": rng.choice(TISSUES),
             "score": rng.randrange(100)}
            for i in range(FIXTURE_FILES)
        ]
        for _ in range(FIXTURE_BATCHES)
    ]
    versionable: list[str] = []
    warmup = _cycle(rng, "wu/c0", {"register": 1, "version": 1, "dedup": 1}, versionable)
    warmup += [_read(rng, k, 0) for k in READ_KINDS]
    writes: list[tuple[str, dict]] = []
    for c in range(CYCLES):
        writes += _cycle(rng, f"in/c{c}", CYCLE_WRITES, versionable)
    seen: dict[str, int] = {}
    reads = []
    for k in spread(READS):
        reads.append(_read(rng, k, seen.get(k, 0)))
        seen[k] = seen.get(k, 0) + 1
    order = spread({"w": len(writes), "r": len(reads)})
    wi, ri = iter(writes), iter(reads)
    timed = [next(wi) if s == "w" else next(ri) for s in order]
    return Plan(fixture, warmup, timed)


# ----------------------------------------------------------------- model


def _payload_bytes(seed: int) -> bytes:
    return random.Random(seed).randbytes(PAYLOAD_BYTES)


@dataclass
class Model:
    """What the catalog must hold: fixture rows by (batch, idx), and the
    head uid / hash / id of every key the flow registered."""

    fixture: dict[tuple[int, int], dict] = field(default_factory=dict)
    heads: dict[str, dict] = field(default_factory=dict)
    versions: dict[str, int] = field(default_factory=dict)  # key -> row count
    uids: set[str] = field(default_factory=set)
    annotated: dict[int, int] = field(default_factory=dict)  # artifact id -> value
    finished_runs: int = 0
    user_bytes: int = 0


# ----------------------------------------------------------------- runner


class Registry:
    def __init__(self, spark, work: str, plan: Plan):
        from lamindb_spark.catalog.lakehouse import Lakehouse

        self.plan = plan
        self.root = os.path.join(work, "lake")
        self.src = os.path.join(work, "src")
        self.lh = Lakehouse(spark, self.root)
        self.lh.settings.creation.artifact_silence_missing_run_warning = True
        self.model = Model()
        self.labels: list[int] = []
        self.ctx = None
        self.cycle_ids: list[int] = []  # artifacts touched in the open cycle
        self.last_run_id = 0

    # ---- set-up
    def build_fixture(self) -> None:
        rows = self.lh.save("ulabel", [{"name": f"perfbench-l{i}"} for i in range(LABELS)])
        self.labels = [r["id"] for r in sorted(rows, key=lambda r: r["name"])]
        for b, batch in enumerate(self.plan.fixture):
            d = os.path.join(self.src, "fx", f"b{b}")
            os.makedirs(d)
            want = {}
            for f in batch:
                name = f"f{f['idx']:03d}.parquet"
                start = (b * FIXTURE_FILES + f["idx"]) * 1000
                values = range(start, start + f["rows"])
                pq.write_table(pa.table({"v": list(values)}), os.path.join(d, name))
                want[f"fx/b{b}/{name}"] = dict(f, path=os.path.join(d, name), sum=sum(values))
            got = {r["key"]: r for r in self.lh.register_dir(d, key=f"fx/b{b}")}
            if sorted(got) != sorted(want):
                raise RuntimeError(f"fixture batch {b} registered {len(got)} of {len(want)} files")
            for key, f in want.items():
                r = got[key]
                self.model.fixture[(b, f["idx"])] = dict(f, uid=r["uid"], id=r["id"], key=key)
                self.model.uids.add(r["uid"])
                self.model.user_bytes += os.path.getsize(f["path"])
            self.lh.annotate_many("artifact", [
                (got[key]["id"], {"tissue": f["tissue"], "score": f["score"]})
                for key, f in want.items()
            ])
        os.makedirs(os.path.join(self.src, "in"))

    # ---- ops: each returns (call, check)
    def _op(self, kind: str, a: dict):
        return getattr(self, f"_{kind}")(a)

    def _track(self, a):
        from lamindb_spark.lineage.context import Context

        def call():
            return Context(self.lh).track(TRANSFORM_KEY, source_code="# perfbench")

        def check(ctx):
            self.ctx, self.cycle_ids = ctx, []
            ok = ctx.run is not None and ctx.run["id"] > self.last_run_id
            self.last_run_id = ctx.run["id"]
            return ok

        return call, check

    def _payload(self, a) -> str:
        path = os.path.join(self.src, "in", f"{a['payload']}.bin")
        with open(path, "wb") as fh:
            fh.write(_payload_bytes(a["payload"]))
        return path

    def _register(self, a):
        path = self._payload(a)
        digest = hashlib.md5(_payload_bytes(a["payload"])).hexdigest()

        def check(row):
            ok = (row["key"] == a["key"] and len(row["uid"]) == 20
                  and row["uid"] not in self.model.uids and row["hash"] == digest
                  and row["is_latest"])
            self.model.uids.add(row["uid"])
            self.model.heads[a["key"]] = row
            self.model.versions[a["key"]] = 1
            self.model.user_bytes += PAYLOAD_BYTES
            self.cycle_ids.append(row["id"])
            return ok

        return lambda: self.lh.register_artifact(path, key=a["key"]), check

    def _version(self, a):
        path = self._payload(a)
        head = self.model.heads[a["key"]]

        def check(row):
            ok = (row["key"] == a["key"] and row["uid"][:16] == head["uid"][:16]
                  and row["uid"] != head["uid"] and row["uid"] not in self.model.uids)
            self.model.uids.add(row["uid"])
            self.model.heads[a["key"]] = row
            self.model.versions[a["key"]] += 1
            self.model.user_bytes += PAYLOAD_BYTES
            self.cycle_ids.append(row["id"])
            return ok

        return lambda: self.lh.register_artifact(path, key=a["key"]), check

    def _dedup(self, a):
        fx = self.model.fixture[(a["batch"], a["idx"])]
        return (lambda: self.lh.register_artifact(fx["path"], key=fx["key"]),
                lambda row: row["uid"] == fx["uid"])

    def _annotate(self, a):
        ids = list(self.cycle_ids)

        def check(_none):
            for i in ids:
                self.model.annotated[i] = a["value"]
            return True

        return (lambda: self.lh.annotate_many(
            "artifact", [(i, {"perfbench_batch": a["value"]}) for i in ids])), check

    def _link_labels(self, a):
        target = self.cycle_ids[0]
        ulabels = [self.labels[i] for i in a["labels"]]
        return lambda: self.lh.link_labels(target, ulabels), lambda n: n == len(ulabels)

    def _finish(self, a):
        ctx = self.ctx

        def check(_none):
            self.model.finished_runs += 1
            return ctx.run is None and self.lh.current_run_id is None

        return ctx.finish, check

    def _get(self, a):
        from lamindb_spark.catalog.query import QuerySet

        if "ingested" in a:
            keys = sorted(self.model.heads)
            uid = self.model.heads[keys[int(a["ingested"] * len(keys))]]["uid"]
        else:
            uid = self.model.fixture[(a["batch"], a["idx"])]["uid"]
        return lambda: QuerySet(self.lh, "artifact").get(uid), lambda row: row["uid"] == uid

    def _filter(self, a):
        from lamindb_spark.catalog.query import QuerySet

        want = sorted(
            f["uid"] for (b, _i), f in self.model.fixture.items()
            if b == a["batch"] and f["tissue"] == a["tissue"]
        )

        def call():
            return QuerySet(self.lh, "artifact").filter(
                key__startswith=f"fx/b{a['batch']}/", features__tissue=a["tissue"]
            ).to_list("uid")

        return call, lambda got: sorted(got) == want

    def _describe(self, a):
        fx = self.model.fixture[(a["batch"], a["idx"])]

        def check(doc):
            d = json.loads(doc)
            return (d["artifact"]["uid"] == fx["uid"]
                    and d["features"] == {"tissue": fx["tissue"], "score": fx["score"]})

        return lambda: self.lh.describe_artifact(fx["uid"]), check

    def _to_dataframe(self, a):
        from lamindb_spark.catalog.query import QuerySet

        prefix = f"fx/b{a['batch']}/f{a['decade']:02d}"
        want = {
            f["key"]: (f["tissue"], f["score"]) for (b, i), f in self.model.fixture.items()
            if b == a["batch"] and i // 10 == a["decade"]
        }

        def call():
            return QuerySet(self.lh, "artifact").filter(key__startswith=prefix).to_dataframe(
                features=["tissue", "score"], limit=None
            )

        def check(pdf):
            got = {k: (t, int(s)) for k, t, s in zip(pdf["key"], pdf["tissue"], pdf["score"])}
            return got == want

        return call, check

    def _open(self, a):
        fx = self.model.fixture[(a["batch"], a["idx"])]

        def call():
            return self.lh.open_artifact(fx["uid"], is_run_input=False).toPandas()

        return call, lambda pdf: len(pdf) == fx["rows"] and int(pdf["v"].sum()) == fx["sum"]

    # ---- runs
    def run_ops(self, rec: Recorder, ops: list[tuple[str, dict]],
                after_op=None) -> None:
        for kind, a in ops:
            try:
                call, check = self._op(kind, a)
            except Exception:  # the op could not even be prepared
                traceback.print_exc(file=sys.stderr)
                rec.attempted += 1
                rec.fail(kind)
                continue
            rec.run(kind, call, check)
            if after_op is not None:
                after_op()

    def final_check(self, rec: Recorder) -> None:
        """Untimed read-back of what the flow ops promised: one head per
        versioned key, every version row present, annotations and
        finished runs recorded."""
        from pyspark.sql import functions as F

        rows = (self.lh.read_raw("artifact").filter(F.col("key").isin(list(self.model.heads)))
                .select("key", "uid", "is_latest").collect())
        bad_version = bad_register = 0
        for key, head in self.model.heads.items():
            mine = [r for r in rows if r["key"] == key]
            latest = [r["uid"] for r in mine if r["is_latest"]]
            if latest != [head["uid"]] or len(mine) != self.model.versions[key]:
                print(f"perfbench: {key}: latest {latest}, want {head['uid']}; "
                      f"{len(mine)} rows, want {self.model.versions[key]}", file=sys.stderr)
                if self.model.versions[key] > 1:
                    bad_version += 1
                else:
                    bad_register += 1
        rec.fail("version", bad_version)
        rec.fail("register", bad_register)
        ann = (self.lh.read_raw("annotation")
               .filter(F.col("feature_name") == "perfbench_batch")
               .select("entity_id", "value_json").collect())
        got = {r["entity_id"]: json.loads(r["value_json"]) for r in ann}
        if got != self.model.annotated:
            rec.fail("annotate")
        runs = (self.lh.read_raw("run").filter(F.col("status_code") == 0)
                .filter(F.col("finished_at").isNotNull()).count())
        if runs != self.model.finished_runs:
            rec.fail("finish")


def run(spark, work: str, seed: int, trace: bool, t_start: float, session_s: float) -> dict:
    plan = make_plan(seed)
    print(f"perfbench: registry op sequence digest {plan.digest()} "
          f"({len(plan.timed)} timed ops)", file=sys.stderr)
    t = time.perf_counter()
    reg = Registry(spark, work, plan)
    t_lake = time.perf_counter()
    reg.build_fixture()
    t_fix = time.perf_counter()
    warm = Recorder()
    reg.run_ops(warm, plan.warmup)
    print(f"perfbench: set-up: session {session_s:.1f} s, empty lake {t_lake - t:.1f} s, "
          f"fixture {t_fix - t_lake:.1f} s, warm-up {time.perf_counter() - t_fix:.1f} s",
          file=sys.stderr)
    tracer = Tracer(spark) if trace else None
    rec = Recorder(tracer)
    registries = os.path.join(reg.root, "registries")
    counts = {"compactions": 0, "files": parquet_files(registries)}

    def watch_files():
        t = time.perf_counter()
        n = parquet_files(registries)
        if n < counts["files"]:
            counts["compactions"] += 1
        counts["files"] = n
        tracer.self_s += time.perf_counter() - t

    setup_s = time.perf_counter() - t_start
    reg.run_ops(rec, plan.timed, watch_files if trace else None)
    # time inside the library calls; payload writes and checks excluded
    wall = sum(sum(v) for v in rec.lat_ms.values()) / 1000.0
    reg.final_check(rec)
    print("perfbench: per-kind median ms (n): " + ", ".join(
        f"{k} {percentile(v, 50):.0f} ({len(v)})" for k, v in rec.lat_ms.items()),
        file=sys.stderr)
    rec.attempted += warm.attempted
    rec.failed += warm.failed
    lake_bytes = tree_bytes(reg.root)
    out = {
        "attempted": rec.attempted,
        "failed": rec.failed,
        "digest": plan.digest(),
    }
    if not trace:
        out["metrics"] = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(plan.timed) / wall, "1/s"),
            "ok_frac": ((rec.attempted - rec.failed) / rec.attempted, "frac"),
            "latency_gmean_ms": (
                gmean([percentile(v, 50) for v in rec.lat_ms.values() if v]), "ms"),
            "memory_mb": (memory_mb(memory(spark)), "MB"),
        }
        return out
    med = rec.kind_stat
    m = {
        "session.start_s": (session_s, "s"),
        "stored_bytes_per_user_byte": (lake_bytes / reg.model.user_bytes, "ratio"),
        "register_p50_ms": (rec.p("register", 50), "ms"),
        "version_p50_ms": (rec.p("version", 50), "ms"),
        "get_p50_ms": (rec.p("get", 50), "ms"),
        "get_p75_ms": (rec.p("get", 75), "ms"),
        "filter_p50_ms": (rec.p("filter", 50), "ms"),
        "catalog.compactions": (counts["compactions"], "count"),
        "catalog.registry_files": (counts["files"], "count"),
        "catalog.registry_bytes": (tree_bytes(registries), "B"),
        "catalog.payload_bytes": (tree_bytes(os.path.join(reg.root, "storage")), "B"),
        "catalog.dedup.hit_frac": (rec.ok["dedup"] / max(1, len(rec.lat_ms["dedup"])), "frac"),
    }
    for kind, fields in SPLIT.items():
        for f in fields:
            m[f"catalog.{kind}.{f}"] = (med(kind, "job_ms" if f == "exec_ms" else f), UNITS[f])
    for kind, layer in (("dedup", "catalog"), ("annotate", "catalog"),
                        ("link_labels", "catalog"), ("track", "lineage"),
                        ("finish", "lineage"), ("describe", "catalog"),
                        ("to_dataframe", "catalog"), ("open", "sources")):
        m[f"{layer}.{kind}.p50_ms"] = (med(kind, "wall_ms"), "ms")
    m["trace.overhead_frac"] = (tracer.self_s / wall, "frac")
    m.update(memory_layers(spark))
    out["metrics"] = m
    out["detail"] = dict(rec.trace)
    return out
