"""Regression tests for the round-5 ADVICE findings and VERDICT r5 #7.

Each test pins one specific fix:
- vacuum's default grace period protects a concurrent in-flight
  writer's staged-but-uncommitted files;
- read_changes emits only the rows a MERGE actually upserted, never
  the survivor rewrites of a touched file;
- the exactly-once stream sink raises on drain timeout instead of
  returning as if complete;
- semantic_dedup's expression kernel (the oracle-checked path) agrees
  with the Arrow/GEMM kernel;
- two merge_into writers racing the same file converge: the loser
  sees CommitConflictError, re-plans, and no data is lost.
"""

import os
import threading

import pytest
from pyspark.sql import functions as F

from lamindb_spark.catalog.commitlog import (
    CommitConflictError,
    CommitLog,
    append_dataframe,
    merge_into,
    read_changes,
    read_committed,
    vacuum,
)


def test_vacuum_default_grace_protects_inflight_stage(spark, tmp_path):
    """With DEFAULT args, vacuum must NOT delete a fresh stage-* dir:
    it may belong to an in-flight writer whose commit hasn't published
    yet (the r5 default of min_age_sec=0 corrupted exactly this case)."""
    t = str(tmp_path / "tbl")
    append_dataframe(spark.range(10), t)
    inflight = os.path.join(t, "stage-inflight0000")
    spark.range(5).write.parquet(inflight)
    got = vacuum(t)  # defaults: the 1h grace must spare the fresh stage
    assert got["orphan_dirs"] == 0
    assert os.path.isdir(inflight)
    # the in-flight writer can still publish its files afterwards
    files = [
        os.path.join("stage-inflight0000", f)
        for f in os.listdir(inflight)
        if f.endswith(".parquet")
    ]
    CommitLog(t).commit(add=files, metadata={"op": "append"})
    assert read_committed(spark, t).count() == 15


def test_merge_cdc_emits_only_upserts(spark, tmp_path):
    """After an upsert touching one file, an incremental consumer must
    see ONLY the upserted rows — not every unchanged row the merge
    rewrote for file layout (the r5 'survivor re-emit' bug)."""
    t = str(tmp_path / "tbl")
    v0 = append_dataframe(
        spark.range(0, 100).withColumn("val", F.col("id") * 10), t
    )
    src = spark.createDataFrame([(5, -1), (7, -1), (1000, -2)], "id long, val long")
    merge_into(spark, t, src, "id")
    # table state: full upsert semantics intact
    out = read_committed(spark, t)
    assert out.count() == 101
    # CDC: exactly the 3 source rows, nothing else
    changed = sorted(r["id"] for r in read_changes(spark, t, since_version=v0).collect())
    assert changed == [5, 7, 1000]


def test_stream_sink_timeout_raises(spark, tmp_path):
    """awaitTermination returning False (drain not finished) must stop
    the query and raise — not return None as if complete."""
    from lamindb_spark.streaming.sink import stream_append_exactly_once

    src = str(tmp_path / "src")
    spark.range(0, 1000).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    with pytest.raises(TimeoutError, match="did not drain"):
        stream_append_exactly_once(
            stream, str(tmp_path / "tbl"), str(tmp_path / "ck"), "slow",
            timeout_sec=0.05,
        )


def test_semantic_dedup_kernels_agree(spark):
    """All three kernels — expression (float, sequential), Arrow
    (float, BLAS) and exact (int64-quantized GEMM, the r6 default) —
    must produce identical verdicts on the test embeddings."""
    from lamindb_spark.pipeline.similarity import semantic_dedup
    from lamindb_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    expr = semantic_dedup(emb, k=4, iters=2, threshold=0.35, kernel="expr")
    arrow = semantic_dedup(emb, k=4, iters=2, threshold=0.35, kernel="arrow")
    exact = semantic_dedup(emb, k=4, iters=2, threshold=0.35, kernel="exact")
    a = {(r["vec_id"], r["cell"], r["keep"]) for r in expr.collect()}
    b = {(r["vec_id"], r["cell"], r["keep"]) for r in arrow.collect()}
    c = {(r["vec_id"], r["cell"], r["keep"]) for r in exact.collect()}
    assert a == b == c
    # and the expr plan carries no Python stage at all
    plan = expr._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "BatchEvalPython" not in plan


def test_cosine_exact_kernel_matches_integer_model(spark):
    """cosine_neardup_pairs_exact vs an independent pure-python int64
    model: identical pair sets AND identical rounded cosines, including
    a zero vector (matches nothing) and a threshold-boundary pair."""
    import math

    from lamindb_spark.pipeline.similarity import cosine_neardup_pairs_exact

    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.9, 0.1, 0.0, 0.0],
        2: [0.0, 1.0, 0.0, 0.0],
        3: [0.0, 0.0, 0.0, 0.0],  # zero norm
        4: [0.35, 0.936749, 0.0, 0.0],
    }
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()], ["vec_id", "embedding", "blk"]
    )
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_neardup_pairs_exact(df, "blk", 0.35, vec_col="embedding").collect()
    }

    def q(v):
        return [int(math.copysign(math.floor(abs(x * 1e6) + 0.5), x)) for x in v]

    want = {}
    ids = sorted(vecs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = q(vecs[ids[i]]), q(vecs[ids[j]])
            na, nb = sum(x * x for x in a), sum(x * x for x in b)
            if na == 0 or nb == 0:
                continue
            cos = sum(x * y for x, y in zip(a, b)) / (math.sqrt(na) * math.sqrt(nb))
            cos_r = math.floor(cos * 1e6 + 0.5) / 1e6
            if cos_r >= 0.35:
                want[(ids[i], ids[j])] = cos_r
    assert got == want
    assert all(k[0] != 3 and k[1] != 3 for k in got), "zero vector matched"


def test_concurrent_merge_writers_converge(spark, tmp_path):
    """VERDICT r5 #7: two merge_into writers racing commits on the
    same table. Each commit wins a distinct version; a loser whose
    planned remove-set was invalidated raises CommitConflictError and
    re-plans; no upsert is lost."""
    t = str(tmp_path / "tbl")
    append_dataframe(
        spark.range(0, 200).withColumn("val", F.col("id") * 10).coalesce(1), t
    )

    srcs = {
        "a": spark.createDataFrame([(10, -1), (11, -1)], "id long, val long"),
        "b": spark.createDataFrame([(12, -2), (13, -2)], "id long, val long"),
    }
    errors, retries = [], {"a": 0, "b": 0}
    barrier = threading.Barrier(2)

    def writer(name):
        try:
            barrier.wait()
            for _ in range(10):
                try:
                    merge_into(spark, t, srcs[name], "id")
                    return
                except CommitConflictError:
                    retries[name] += 1
            raise RuntimeError("gave up")
        except Exception as exc:  # pragma: no cover
            errors.append((name, exc))

    threads = [threading.Thread(target=writer, args=(n,)) for n in srcs]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    out = read_committed(spark, t)
    assert out.count() == 200
    vals = {r["id"]: r["val"] for r in out.filter(F.col("id").isin(10, 11, 12, 13, 14)).collect()}
    assert vals == {10: -1, 11: -1, 12: -2, 13: -2, 14: 140}
    # versions are dense and distinct: the CAS never lost a commit
    versions = CommitLog(t).versions()
    assert versions == list(range(len(versions)))
