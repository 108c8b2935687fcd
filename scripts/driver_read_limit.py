"""Time registry reads on the driver against the Spark scan, at a
chosen registry size — the measurement behind
``lakehouse._DRIVER_READ_MAX_BYTES``.

    python scripts/driver_read_limit.py WORK_DIR ROWS [ROWS ...]

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
"""

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]


def build(spark, root, n):
    from pyspark.sql import functions as F

    from lamindb_spark.catalog.lakehouse import Lakehouse

    path = Lakehouse(spark, root)._table_path("artifact")
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
    for kind, op in ops.items():
        op()
        times = []
        for _ in range(5):
            t = time.perf_counter()
            op()
            times.append((time.perf_counter() - t) * 1e3)
        out[f"{kind}_ms"] = round(statistics.median(times), 1)
    out["memory_mb"] = [round(before, 1), round(memory_mb(memory(spark)), 1)]
    print(json.dumps(out), flush=True)


def main(argv):
    from lamindb_spark.session import get_spark

    if argv[0] == "--measure":
        measure(get_spark(), argv[1], argv[2])
        return
    work, sizes = argv[0], [int(a) for a in argv[1:]]
    for n in sizes:
        root = os.path.join(work, f"lake_{n}")
        if not os.path.isdir(root):
            spark = get_spark()
            build(spark, root, n)
            spark.stop()
        for mode in ("driver", "spark"):
            subprocess.run([sys.executable, __file__, "--measure", root, mode], check=True)


if __name__ == "__main__":
    main(sys.argv[1:])
