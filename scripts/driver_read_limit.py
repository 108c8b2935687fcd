"""Time registry reads (and, with ``--update``, rewrites) on the
driver against Spark, at a chosen registry size — the measurement
behind ``lakehouse._DRIVER_READ_MAX_BYTES``.

    python scripts/driver_read_limit.py [--update [--commitlog]] WORK_DIR ROWS [ROWS ...]

For each ROWS it builds (once) a bucketed lake under WORK_DIR whose
artifact registry holds that many synthetic rows in 16 files (about
77 bytes a row) and whose annotation registry gives each artifact a
``tissue`` feature (90% ``"liver"``). It then runs each path in a
fresh process and prints one JSON line: registry bytes, the median of
five runs in ms of each read — ``get(uid)``, the hash (dedup) and
100-uid ``uid__in`` point lookups, and two QuerySet evaluations whose
prefix and EAV lookup match 90% of the rows: ``filter`` (``to_list``
of their uids) and ``to_dataframe`` (the default 20-row export with
the feature pivot) — and ``memory_mb`` (perfbench's Python peak RSS +
JVM non-heap) before and after.

``--update`` times the write side instead, each path on its own copy
of the lake: ``save`` (a one-row ``save`` update of an existing uid,
one bucket rewritten), ``save_all`` (a 16-row ``save`` with one row in
every bucket, so the whole registry is rewritten: the rewrite's cost at
touched sizes above the byte limit) and ``version`` (a
``register_artifact`` version bump of an existing key: the family read,
the append and the ``is_latest`` rewrite of the old head's bucket).
``--update --commitlog`` builds a commit-log lake instead, whose
artifact registry is 16 files range-partitioned by id, and times the
same one-row and 16-row updates as ``commitlog.merge_rows`` (driver)
against ``merge_into`` (Spark): ``save`` rewrites one file,
``save_all`` all of them.
"""

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]


def _store(commitlog):
    from lamindb_spark.catalog.logstore import PosixLogStore

    return PosixLogStore() if commitlog else None


def _spread_ids(n):
    """16 ids, the k-th in bucket k and in the k-th sixteenth of 1..n."""
    return [k * (n // 16) + 1 + (k - k * (n // 16) - 1) % 16 for k in range(16)]


def build(spark, root, n, commitlog=False):
    from pyspark.sql import functions as F

    from lamindb_spark.catalog.commitlog import CommitLog
    from lamindb_spark.catalog.lakehouse import Lakehouse

    path = Lakehouse(spark, root, registry_log_store=_store(commitlog))._table_path("artifact")
    h = lambda salt: F.sha2(F.concat(F.lit(salt), F.col("id").cast("string")), 256)
    null = lambda t: F.lit(None).cast(t)
    df = spark.range(1, n + 1).select(
        "id",
        F.substring(h("u"), 1, 20).alias("uid"),
        F.lit(1).cast("long").alias("branch_id"),
        F.lit(1).cast("long").alias("space_id"),
        (F.lit("2024-01-01").cast("timestamp") + F.make_interval(secs=F.col("id"))).alias(
            "created_at"
        ),
        F.lit(1).cast("long").alias("created_by_id"),
        F.lit(True).alias("is_latest"),
        null("string").alias("version_tag"),
        F.concat(F.lit("data/"), F.substring(h("k"), 1, 12), F.lit(".parquet")).alias("key"),
        null("string").alias("description"),
        F.lit(1).cast("long").alias("storage_id"),
        F.lit(".parquet").alias("suffix"),
        F.lit("dataset").alias("kind"),
        null("string").alias("otype"),
        (F.col("id") * 7).alias("size"),
        F.substring(h("h"), 1, 22).alias("hash"),
        null("long").alias("n_files"),
        null("long").alias("n_observations"),
        (F.col("id") % 1000).alias("run_id"),
        null("long").alias("schema_id"),
        null("timestamp").alias("updated_at"),
    )
    ann = spark.range(1, n + 1).select(
        F.lit("artifact").alias("entity_kind"),
        F.col("id").alias("entity_id"),
        null("long").alias("feature_id"),
        F.lit("tissue").alias("feature_name"),
        F.when(F.col("id") % 10 == 0, F.lit('"brain"')).otherwise(F.lit('"liver"')).alias(
            "value_json"
        ),
        null("string").alias("label_kind"),
        null("long").alias("label_id"),
        F.lit(1).cast("long").alias("branch_id"),
        F.lit("2024-01-01").cast("timestamp").alias("created_at"),
    )
    if commitlog:
        seed = "seed"
        df.repartitionByRange(16, "id").sortWithinPartitions("id").write.parquet(
            f"{path}/{seed}"
        )
        parts = sorted(f for f in os.listdir(f"{path}/{seed}") if f.endswith(".parquet"))
        CommitLog(path, _store(True)).commit(
            add=[f"{seed}/{f}" for f in parts], metadata={"op": "append"}
        )
        return
    ann_path = path.replace("/artifact", "/annotation")
    for frame, key, table in ((df, "id", path), (ann, "entity_id", ann_path)):
        (
            frame.withColumn("__bucket", F.col(key) % 16)
            .repartition(16, "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(table)
        )


def measure(spark, root, mode):
    from harness import memory, memory_mb

    from lamindb_spark.catalog import lakehouse as L
    from lamindb_spark.catalog.query import QuerySet

    L._DRIVER_READ_MAX_BYTES = 0 if mode == "spark" else 1 << 40
    lh = L.Lakehouse(spark, root)
    files = L._visible_files(lh._table_path("artifact"))
    n = lh.read_raw("artifact").count()
    step = max(1, n // 100)
    probe = {r["id"]: r for r in lh.read_raw("artifact").filter(f"id % {step} = 0").collect()}
    ids = sorted(probe)[:100]
    one = probe[ids[len(ids) // 2]]
    most = QuerySet(lh, "artifact").filter(key__startswith="data/", features__tissue="liver")
    ops = {
        "get": lambda: QuerySet(lh, "artifact").get(one["uid"]),
        "dedup": lambda: lh._registry_rows("artifact", hash=one["hash"]),
        "uid_in100": lambda: lh._registry_rows(
            "artifact", uid__in=[probe[i]["uid"] for i in ids]
        ),
        "filter": lambda: most.to_list("uid"),
        "to_dataframe": lambda: most.to_dataframe(features=["tissue"]),
    }
    before = memory_mb(memory(spark))
    out = {"rows": n, "mode": mode, "bytes": sum(os.path.getsize(p) for p in files)}
    _timed({kind: (lambda _i, op=op: op()) for kind, op in ops.items()}, out)
    out["memory_mb"] = [round(before, 1), round(memory_mb(memory(spark)), 1)]
    print(json.dumps(out), flush=True)


def _timed(ops, out):
    for kind, op in ops.items():
        op(0)
        times = []
        for i in range(1, 6):
            t = time.perf_counter()
            op(i)
            times.append((time.perf_counter() - t) * 1e3)
        out[f"{kind}_ms"] = round(statistics.median(times), 1)


def measure_update(spark, root, mode, commitlog=False):
    from harness import memory, memory_mb
    from pyspark.sql import functions as F

    from lamindb_spark.catalog import lakehouse as L

    L._DRIVER_READ_MAX_BYTES = 0 if mode == "spark" else 1 << 40
    work = f"{root}-update-{mode}"
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(root, work)
    lh = L.Lakehouse(spark, work, registry_log_store=_store(commitlog))
    lh.settings.creation.artifact_silence_missing_run_warning = True
    files = lh._live_files("artifact")
    n = lh.read_raw("artifact").count()
    every = lh.read_raw("artifact").filter(F.col("id").isin(_spread_ids(n))).collect()
    one = every[0]

    def payload(i):
        path = f"{work}/payload-{i}.txt"
        with open(path, "w") as fh:
            fh.write(f"{mode} version {i}")
        return path

    if commitlog:
        # time the two merge primitives themselves (a save's uid lookup
        # is a read, timed by the read mode)
        from pyspark.sql import Row

        from lamindb_spark.catalog.commitlog import merge_into, merge_rows
        from lamindb_spark.catalog.schemas import REGISTRY_SCHEMAS

        schema, path = REGISTRY_SCHEMAS["artifact"], lh._table_path("artifact")

        def merge(rows, i):
            rows = [{**r.asDict(), "description": f"d{i}"} for r in rows]
            if mode == "driver":
                merge_rows(path, L._rows_table(schema, rows), "id", lh.registry_log_store)
            else:
                df = spark.createDataFrame([Row(**r) for r in rows], schema)
                merge_into(spark, path, df, key="id", store=lh.registry_log_store)

        ops = {"save": lambda i: merge([one], i), "save_all": lambda i: merge(every, i)}
    else:
        ops = {
            "save": lambda i: lh.save(
                "artifact", [{"uid": one["uid"], "description": f"d{i}"}]
            ),
            "save_all": lambda i: lh.save(
                "artifact", [{"uid": r["uid"], "description": f"a{i}"} for r in every]
            ),
            "version": lambda i: lh.register_artifact(payload(i), key=one["key"]),
        }
    before = memory_mb(memory(spark))
    out = {
        "mode": mode,
        "op": "update",
        "tier": "commitlog" if commitlog else "bucketed",
        "bytes": sum(os.path.getsize(p) for p in files),
    }
    _timed(ops, out)
    out["memory_mb"] = [round(before, 1), round(memory_mb(memory(spark)), 1)]
    print(json.dumps(out), flush=True)
    shutil.rmtree(work, ignore_errors=True)


def main(argv):
    from lamindb_spark.session import get_spark

    if argv[0] == "--measure":
        run = {
            "read": measure,
            "update": measure_update,
            "update_cl": lambda *a: measure_update(*a, commitlog=True),
        }[argv[3]]
        run(get_spark(), argv[1], argv[2])
        return
    kind = "update" if argv[0] == "--update" else "read"
    argv = argv[1:] if kind == "update" else argv
    commitlog = kind == "update" and argv[0] == "--commitlog"
    if commitlog:
        kind, argv = "update_cl", argv[1:]
    work, sizes = argv[0], [int(a) for a in argv[1:]]
    for n in sizes:
        root = os.path.join(work, f"{'cl' if commitlog else 'lake'}_{n}")
        if not os.path.isdir(root):
            spark = get_spark()
            build(spark, root, n, commitlog)
            spark.stop()
        for mode in ("driver", "spark"):
            subprocess.run([sys.executable, __file__, "--measure", root, mode, kind], check=True)


if __name__ == "__main__":
    main(sys.argv[1:])
