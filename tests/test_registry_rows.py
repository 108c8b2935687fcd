"""Registry point lookups on the driver (``Lakehouse._registry_rows``):
the pyarrow read returns exactly the rows a Spark scan collects, on
both registry tiers; get / dedup / describe run no Spark job on the
driver path and do when it is forced off; reads never go stale and
never touch the commit-log rewrite snapshot; the reader keeps
``pyarrow.dataset`` out of the process."""

import datetime
import os
import subprocess
import sys
import time
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from lamindb_spark.catalog import lakehouse as lakehouse_mod
from lamindb_spark.catalog.lakehouse import Lakehouse
from lamindb_spark.catalog.logstore import PosixLogStore
from lamindb_spark.catalog.query import QuerySet
from lamindb_spark.catalog.schemas import REGISTRY_SCHEMAS, TRASH_BRANCH_ID
from lamindb_spark.lineage.context import Context
from tests.conftest import SF_DIR

TIERS = ("bucketed", "commitlog")


def _make(spark, root, tier):
    store = PosixLogStore() if tier == "commitlog" else None
    return Lakehouse(spark, root, registry_log_store=store)


def _write(path, text):
    with open(path, "w") as fh:
        fh.write(text)
    return str(path)


@pytest.fixture(scope="module", params=TIERS)
def lake(request, spark, tmp_path_factory):
    """One populated lake per tier: labels, a tracked run, artifacts
    with a version bump, annotations, label links and a trashed row."""
    base = tmp_path_factory.mktemp(request.param)
    lh = _make(spark, str(base / "lake"), request.param)
    lh.settings.creation.artifact_silence_missing_run_warning = True
    labels = lh.save("ulabel", [{"name": "T cell", "synonyms": "T-cell"}, {"name": "B cell"}])
    ctx = Context(lh).track("pipelines/rows.py", source_code="print('rows')")
    a1 = lh.register_artifact(f"{SF_DIR}/nation.parquet", key="tpch/nation.parquet")
    src = base / "v.txt"
    v1 = lh.register_artifact(_write(src, "one"), key="notes/v.txt")
    v2 = lh.register_artifact(_write(src, "two"), key="notes/v.txt")
    gone = lh.register_artifact(_write(base / "g.txt", "gone"), key="notes/g.txt")
    ctx.finish()
    lh.annotate("artifact", a1["id"], {"species": "human", "temperature": 21.5})
    lh.link_labels(a1["id"], [r["id"] for r in labels])
    lh.delete("artifact", [gone["id"]])
    return lh, {"a1": a1, "v1": v1, "v2": v2, "gone": gone}


def _in_group(spark, fn):
    """(result, job group) of ``fn()`` run under a fresh job group."""
    group = f"rows-{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "registry point lookup")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, group


def _job_count(spark, group):
    """Jobs recorded for ``group``. The status store fills from the
    listener bus asynchronously, so a sentinel job runs in its own
    group first and is waited for: the bus is FIFO, so by the time the
    sentinel shows, every job ``group`` started before it shows too."""
    sc = spark.sparkContext
    sentinel = f"flush-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(sentinel, "listener bus flush")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.time() < deadline, "the sentinel job was never recorded"
        time.sleep(0.02)
    return len(tracker.getJobIdsForGroup(group))


def _multiset(rows):
    return Counter((tuple(r.__fields__), tuple(r)) for r in rows)


def test_rows_equal_spark_collect_per_registry(lake, monkeypatch):
    lake, made = lake
    populated = set()
    for name in REGISTRY_SCHEMAS:
        want = _multiset(lake.read_raw(name).collect())
        if not want:
            continue
        populated.add(name)
        assert _multiset(lake._registry_rows(name)) == want, name
        with monkeypatch.context() as m:
            m.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", 0)
            assert _multiset(lake._registry_rows(name)) == want, name
    assert {"artifact", "run", "transform", "annotation", "artifact_ulabels"} <= populated
    # a trashed row keeps its branch; timestamps/booleans/nulls survive
    (row,) = lake._registry_rows("artifact", uid=made["gone"]["uid"])
    assert row["branch_id"] == TRASH_BRANCH_ID
    assert row["is_latest"] is True and row["updated_at"] is None
    assert isinstance(row["created_at"], datetime.datetime)


def test_lookups_equal_spark_filter(lake, monkeypatch):
    lake, made = lake
    v2 = made["v2"]
    stem = v2["uid"][:16]
    cases = [
        ({"uid": v2["uid"]}, F.col("uid") == v2["uid"]),
        ({"uid__startswith": stem}, F.col("uid").startswith(stem)),
        ({"key": "notes/v.txt", "is_latest": True},
         (F.col("key") == "notes/v.txt") & F.col("is_latest")),
        ({"uid__in": [v2["uid"], "missing"]}, F.col("uid").isin(v2["uid"], "missing")),
        ({"run_id": None}, F.col("run_id").isNull()),
    ]
    for lookups, pred in cases:
        want = _multiset(lake.read_raw("artifact").filter(pred).collect())
        assert want or lookups == {"run_id": None}
        assert _multiset(lake._registry_rows("artifact", **lookups)) == want, lookups
        with monkeypatch.context() as m:
            m.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", 0)
            assert _multiset(lake._registry_rows("artifact", **lookups)) == want, lookups


def test_point_lookups_run_no_spark_job(lake, spark, monkeypatch):
    lake, made = lake
    a1 = made["a1"]
    ops = {
        "get": lambda: QuerySet(lake, "artifact").get(a1["uid"])["id"],
        "dedup": lambda: lake.register_artifact(
            f"{SF_DIR}/nation.parquet", key="tpch/nation.parquet"
        )["id"],
        "describe": lambda: lake.describe_artifact(a1["uid"]),
    }
    driver = {}
    for kind, op in ops.items():
        driver[kind], group = _in_group(spark, op)
        assert _job_count(spark, group) == 0, kind
    assert driver["get"] == driver["dedup"] == a1["id"]
    monkeypatch.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", 0)
    for kind, op in ops.items():
        out, group = _in_group(spark, op)
        assert out == driver[kind], kind  # describe JSON byte-identical
        assert _job_count(spark, group) >= 1, kind


def test_missing_column_reads_as_null(lakehouse, spark, tmp_path, monkeypatch):
    lakehouse.save("ulabel", [{"name": "full", "synonyms": "f"}])
    schema = REGISTRY_SCHEMAS["ulabel"]
    stage = str(tmp_path / "stage")
    now = datetime.datetime(2024, 5, 6, 7, 8, 9, 123456)
    row = (9001, "missingcol0001", 1, None, now, None, "partial", None, None, "x", "s")
    (
        spark.createDataFrame([row], schema)
        .drop("synonyms")
        .coalesce(1)
        .write.parquet(stage)
    )
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    bucket = f"{lakehouse._table_path('ulabel')}/__bucket=5"
    os.makedirs(bucket, exist_ok=True)
    os.rename(f"{stage}/{part}", f"{bucket}/{part}")
    want = _multiset(lakehouse.read_raw("ulabel").collect())
    for limit in (lakehouse_mod._DRIVER_READ_MAX_BYTES, 0):
        monkeypatch.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", limit)
        assert _multiset(lakehouse._registry_rows("ulabel")) == want
        (got,) = lakehouse._registry_rows("ulabel", name="partial")
        assert got["synonyms"] is None and got["description"] == "s"
        assert lakehouse._registry_rows("ulabel", synonyms=None, name="partial") == [got]


def test_commitlog_readers_see_other_writers(spark, tmp_path):
    root = str(tmp_path / "lake")
    a = _make(spark, root, "commitlog")
    b = _make(spark, root, "commitlog")
    src = tmp_path / "p.txt"
    first = b.register_artifact(_write(src, "first"), key="shared/p.txt")
    assert QuerySet(a, "artifact").get(first["uid"])["id"] == first["id"]
    a.read_raw("artifact")  # A pins a rewrite snapshot
    pinned = dict(a._cl_read_files)
    bumped = b.register_artifact(_write(src, "second"), key="shared/p.txt")
    assert bumped["uid"][:16] == first["uid"][:16]
    head = QuerySet(a, "artifact").get(first["uid"][:16])
    assert head["uid"] == bumped["uid"] and head["is_latest"]
    assert '"uid": "%s"' % bumped["uid"] in a.describe_artifact(bumped["uid"])
    assert a.register_artifact(str(src), key="shared/p.txt")["uid"] == bumped["uid"]
    # the driver read never records (or consumes) A's rewrite snapshot
    a._registry_rows("artifact", key="shared/p.txt")
    assert a._cl_read_files == pinned


def test_bucketed_get_sees_version_and_compaction(lakehouse, tmp_path):
    src = tmp_path / "q.txt"
    first = lakehouse.register_artifact(_write(src, "first"), key="q.txt")
    stem = first["uid"][:16]
    assert QuerySet(lakehouse, "artifact").get(stem)["uid"] == first["uid"]
    bumped = lakehouse.register_artifact(_write(src, "second"), key="q.txt")
    assert QuerySet(lakehouse, "artifact").get(stem)["uid"] == bumped["uid"]
    before = lakehouse_mod._visible_files(lakehouse._table_path("artifact"))
    lakehouse._maybe_compact("artifact", max_files=0)
    after = lakehouse_mod._visible_files(lakehouse._table_path("artifact"))
    assert not set(after) & set(before)  # every live file was rewritten
    assert QuerySet(lakehouse, "artifact").get(stem)["uid"] == bumped["uid"]


def test_driver_reader_never_imports_pyarrow_dataset(lakehouse):
    lakehouse.save("ulabel", [{"name": "x"}, {"name": "y"}])
    script = (
        "import sys\n"
        "from lamindb_spark.catalog.lakehouse import _read_table_local, _visible_files\n"
        "from lamindb_spark.catalog.schemas import REGISTRY_SCHEMAS\n"
        f"files = _visible_files({lakehouse._table_path('ulabel')!r})\n"
        "table = _read_table_local(REGISTRY_SCHEMAS['ulabel'], files, ['name'], "
        "[('name', 'exact', 'x'), ('id', 'in', [1, 2, 3])])\n"
        "assert table['name'].to_pylist() == ['x'], table\n"
        "assert 'pyarrow.dataset' not in sys.modules\n"
        "print('ok')\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr
