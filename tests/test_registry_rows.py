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
from pyspark.sql import Row
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


# ------------------------------------------------------------ the write path


def _sample_rows(schema, base):
    """Two rows of ``schema``: every field set (non-ASCII text, a naive
    and a tz-aware datetime), then every nullable field null."""
    naive = datetime.datetime(2024, 3, 31, 1, 30, 15, 250000)
    aware = datetime.datetime(
        2024, 7, 1, 23, 59, 59, 999999, tzinfo=datetime.timezone(datetime.timedelta(hours=-5))
    )
    rows = []
    for i, ts in enumerate((naive, aware)):
        values = {
            "bigint": lambda j: base + 100 * i + j,
            "string": lambda j: f"é漢字 ✓ {j}/{i}",
            "timestamp": lambda j: ts,
            "boolean": lambda j: bool((i + j) % 2),
        }
        rows.append(
            {
                f.name: None if i and f.nullable else values[f.dataType.simpleString()](j)
                for j, f in enumerate(schema.fields)
            }
        )
    return rows


def test_driver_writer_matches_spark_per_registry(spark, tmp_path):
    from pyspark.sql.types import StructField, StructType

    samples = {
        name: _sample_rows(schema, 1000 * (k + 1))
        for k, (name, schema) in enumerate(REGISTRY_SCHEMAS.items())
    }
    # the rows the replaced Spark write stored: createDataFrame's
    # conversion of the same dicts (one frame, a struct per registry)
    nested = StructType([StructField(n, s) for n, s in REGISTRY_SCHEMAS.items()])
    converted = spark.createDataFrame(
        [Row(**{n: Row(**rows[i]) for n, rows in samples.items()}) for i in range(2)], nested
    ).collect()
    lakes = [_make(spark, str(tmp_path / tier), tier) for tier in TIERS]
    for name, rows in samples.items():
        want = _multiset(r[name] for r in converted)
        assert len(want) == 2, name
        for lh in lakes:
            before = _multiset(lh._registry_rows(name))
            lh._append(name, rows)
            assert _multiset(lh.read_raw(name).collect()) == before + want, name
            assert _multiset(lh._registry_rows(name)) == before + want, name


def test_driver_writer_rejects_bad_rows_before_writing(lakehouse):
    files = lakehouse_mod._visible_files(lakehouse._table_path("ulabel"))
    for bad in ({"name": 5}, {"name": "x", "uid": None}, {"name": "x", "created_at": "now"}):
        row = {"id": 7, "uid": "bad0000000000", "branch_id": 1,
               "created_at": datetime.datetime(2024, 1, 1), **bad}
        with pytest.raises((TypeError, ValueError)):
            lakehouse._append("ulabel", [{**row, "name": "ok", "created_at": row["created_at"]}, row])
    assert lakehouse_mod._visible_files(lakehouse._table_path("ulabel")) == files


def _jobs(spark, fn):
    out, group = _in_group(spark, fn)
    return out, _job_count(spark, group)


def _contents(lh, name):
    return _multiset(lh.read_raw(name).collect())


@pytest.mark.parametrize("tier", TIERS)
def test_write_flow_runs_no_spark_job(spark, tmp_path, tier, monkeypatch):
    root = str(tmp_path / "lake")
    lh, jobs = _jobs(spark, lambda: _make(spark, root, tier))
    assert jobs == 0, "open an empty lake"
    lh.settings.creation.artifact_silence_missing_run_warning = True
    labels = lh.save("ulabel", [{"name": "a"}, {"name": "b"}])
    src = tmp_path / "f.txt"
    ctx = Context(lh)
    steps = [
        ("track", lambda: ctx.track("pipelines/flow.py", source_code="print('flow')")),
        ("register", lambda: lh.register_artifact(_write(src, "one"), key="flow/f.txt")),
        ("version", lambda: lh.register_artifact(_write(src, "two"), key="flow/f.txt")),
        ("annotate", lambda: lh.annotate_many("artifact", [(1, {"tissue": "liver"})])),
        ("link", lambda: lh.link_labels(1, [r["id"] for r in labels])),
        ("finish", lambda: ctx.finish()),
    ]
    for kind, step in steps:
        _out, jobs = _jobs(spark, step)
        assert jobs == 0, kind
    (head,) = lh._registry_rows("artifact", key="flow/f.txt", is_latest=True)
    assert head["uid"].endswith("0001")
    # the update and the reconcile leave the same contents on the
    # driver and, forced, on Spark
    for limit in (lakehouse_mod._DRIVER_READ_MAX_BYTES, 0):
        monkeypatch.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", limit)
        before = _contents(lh, "ulabel")
        (old,) = lh._registry_rows("ulabel", id=labels[0]["id"])
        _out, jobs = _jobs(spark, lambda: lh.save("ulabel", [{"uid": old["uid"], "name": f"n{limit}"}]))
        assert (jobs >= 1) == (limit == 0), limit
        new = old.asDict() | {"name": f"n{limit}"}
        want = before - Counter([(tuple(old.__fields__), tuple(old))])
        want[(tuple(new), tuple(new.values()))] += 1
        assert _contents(lh, "ulabel") == want
        before = _contents(lh, "artifact")
        (prev,) = lh._registry_rows("artifact", key="flow/f.txt", is_latest=True)
        bumped, jobs = _jobs(
            spark, lambda: lh.register_artifact(_write(src, f"v{limit}"), key="flow/f.txt")
        )
        assert (jobs >= 1) == (limit == 0), limit
        demoted = prev.asDict() | {"is_latest": False}
        want = before - Counter([(tuple(prev.__fields__), tuple(prev))])
        want[(tuple(demoted), tuple(demoted.values()))] += 1
        got = _contents(lh, "artifact")
        (added,) = got - want
        assert added[1][added[0].index("uid")] == bumped["uid"]
        assert sum(got.values()) == sum(want.values()) + 1 and not want - got


def test_register_dir_families_on_both_paths(lakehouse, tmp_path, monkeypatch):
    for limit in (lakehouse_mod._DRIVER_READ_MAX_BYTES, 0):
        monkeypatch.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", limit)
        d = tmp_path / f"d{limit}"
        d.mkdir()
        for f in ("x", "y", "z"):
            _write(d / f"{f}.txt", f"{f} {limit}")
        first = {r["key"]: r for r in lakehouse.register_dir(str(d))}
        for f in ("x", "y"):
            _write(d / f"{f}.txt", f"{f} {limit} changed")
        second = {r["key"]: r for r in lakehouse.register_dir(str(d))}
        assert second[f"d{limit}/z.txt"]["uid"] == first[f"d{limit}/z.txt"]["uid"]
        for f in ("x", "y"):
            old, new = first[f"d{limit}/{f}.txt"], second[f"d{limit}/{f}.txt"]
            assert new["uid"] == old["uid"][:16] + "0001"
            heads = lakehouse._registry_rows("artifact", key=f"d{limit}/{f}.txt", is_latest=True)
            assert [h["uid"] for h in heads] == [new["uid"]]
        again = lakehouse.register_dir(str(d))
        assert [r["uid"] for r in again] == [r["uid"] for r in second.values()]


def test_driver_merge_survivors_stay_out_of_read_changes(spark, tmp_path):
    from lamindb_spark.catalog.commitlog import history, read_changes

    lh = _make(spark, str(tmp_path / "lake"), "commitlog")
    rows = lh.save("ulabel", [{"name": f"m{i}"} for i in range(3)])
    lh.save("ulabel", [{"uid": rows[1]["uid"], "name": "changed"}])
    path = lh._table_path("ulabel")
    top = history(path, lh.registry_log_store)[0]
    meta = top["metadata"]
    assert meta["op"] == "merge" and meta["key"] == "id"
    assert meta["n_rewritten"] == 1 and len(meta["survivor_files"]) == 1
    assert top["n_add"] == 2 and top["n_remove"] == 1
    fed = read_changes(spark, path, top["version"] - 1, top["version"]).collect()
    assert [(r["id"], r["name"]) for r in fed] == [(rows[1]["id"], "changed")]
    names = sorted(r["name"] for r in lh._registry_rows("ulabel", name__startswith="m"))
    assert names == ["m0", "m2"]


def test_delete_and_replace_probe_on_both_paths(lake, tmp_path, monkeypatch):
    lake, _made = lake
    for limit in (lakehouse_mod._DRIVER_READ_MAX_BYTES, 0):
        monkeypatch.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", limit)
        src = _write(tmp_path / f"r{limit}.txt", "first")
        art = lake.register_artifact(src, key=f"probe/r{limit}.txt")
        target = lake.artifact_path(art)
        replaced = lake.replace_artifact(art["id"], _write(tmp_path / "new.txt", f"second {limit}"))
        assert replaced["id"] == art["id"] and replaced["hash"] != art["hash"]
        (row,) = lake._registry_rows("artifact", id=art["id"])
        assert row["hash"] == replaced["hash"]
        with open(target) as fh:
            assert fh.read() == f"second {limit}"
        with pytest.raises(KeyError):
            lake.replace_artifact(10**9, src)
        lake.delete_artifact(art["id"], permanent=True, storage=True)
        assert not lake._registry_rows("artifact", id=art["id"])
        assert not os.path.exists(target)
        with pytest.raises(KeyError):
            lake.delete_artifact(art["id"])
