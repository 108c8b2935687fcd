"""Registry QuerySets evaluated on the driver (``QuerySet._on_driver``):
on one populated lake per tier, every supported filter, order and
limit, ``get``/``one_or_none`` and ``to_dataframe`` run no Spark job
and return what the Spark plan returns (forced by a 0-byte
``_DRIVER_READ_MAX_BYTES``); sets the driver does not evaluate run
Spark jobs; a set reads the registry when a terminal op runs."""

import logging

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lamindb_spark.catalog import lakehouse as lakehouse_mod
from lamindb_spark.catalog.query import QuerySet
from lamindb_spark.catalog.schemas import MAIN_BRANCH_ID, TRASH_BRANCH_ID
from lamindb_spark.operators.filters import Q
from tests.test_registry_rows import _in_group, _job_count, _make, _write


# The set evaluation above the file list is the same on both tiers, and
# test_registry_rows checks the commit-log file list in the default run;
# the commit-log lake (about 30 s of Spark writes and forced-Spark
# comparisons) runs with the slow set.
@pytest.fixture(
    scope="module", params=["bucketed", pytest.param("commitlog", marks=pytest.mark.slow)]
)
def lake(request, spark, tmp_path_factory):
    """Artifacts with and without a run, a two-version family, a
    trashed row, non-ASCII keys and descriptions, string / number /
    boolean / JSON-null / float features, M2M labels, a collection and
    25 ulabels — written in a few bulk saves and appends."""
    base = tmp_path_factory.mktemp(f"qs-{request.param}")
    lh = _make(spark, str(base / "lake"), request.param)
    labels = lh.save("ulabel", [{"name": f"label{i:02d}"} for i in range(23)]
                     + [{"name": "T cell"}, {"name": "B cell"}])
    by_name = {r["name"]: r["id"] for r in labels}
    (tf,) = lh.save("transform", [{"key": "pipelines/qd.py"}])
    (run,) = lh.save("run", [{"transform_id": tf["id"]}])
    storage = lh._registry_rows("storage")[0]["id"]
    stem = "qdfamilystem0001"
    specs = {
        "a.csv": {"description": "alpha", "run_id": run["id"]},
        "b.parquet": {"run_id": run["id"]},
        "ü/c.txt": {"description": "çé", "run_id": run["id"]},
        "v.txt": {"uid": stem + "0000", "is_latest": False},
        "v2": {"uid": stem + "0001", "key": "qd/v.txt"},
        "other": {"key": "other/o.txt", "description": "beta"},
        "gone": {"key": "qd/gone.txt", "branch_id": TRASH_BRANCH_ID},
    }
    rows = [
        {"key": f"qd/{name}", "storage_id": storage, "is_latest": True,
         "branch_id": MAIN_BRANCH_ID, "hash": f"h{i}", **spec}
        for i, (name, spec) in enumerate(specs.items())
    ]
    arts = dict(zip(specs, lh.save("artifact", rows)))
    lh.annotate_many("artifact", [
        (arts["a.csv"]["id"], {"species": "human", "temperature": 21, "flag": True,
                               "note": None, "ratio": 0.5}),
        (arts["b.parquet"]["id"], {"species": "mouse", "temperature": 30, "flag": False}),
        (arts["ü/c.txt"]["id"], {"species": "Ünïcode", "temperature": 1, "flag": 1}),
        (arts["other"]["id"], {"species": "human", "mixed": "7"}),
    ])
    lh._append("artifact_ulabels", [
        {"artifact_id": arts[a]["id"], "ulabel_id": by_name[n]}
        for a, n in [("a.csv", "T cell"), ("a.csv", "B cell"), ("b.parquet", "B cell")]
    ])
    coll = lh.create_collection("qd/coll", [arts["a.csv"]["id"], arts["b.parquet"]["id"]])
    return lh, arts, coll


def _forced_spark(monkeypatch):
    monkeypatch.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", 0)


def _both_paths(spark, monkeypatch, ops):
    """Run every op on the driver path (asserting no Spark job for all
    of them together) and again with the driver read forced off
    (asserting at least one job); return both result lists."""
    driver, group = _in_group(spark, lambda: [op() for op in ops])
    assert _job_count(spark, group) == 0
    with monkeypatch.context() as m:
        _forced_spark(m)
        forced, group = _in_group(spark, lambda: [op() for op in ops])
    assert _job_count(spark, group) >= 1
    return driver, forced


def _uids(qs):
    return lambda: sorted(qs.to_list("uid"))


def test_lookups_match_spark(lake, spark, monkeypatch):
    lh, arts, *_ = lake
    qs = QuerySet(lh, "artifact")
    v2 = arts["v2"]
    cases = {
        "exact": qs.filter(key="qd/a.csv"),
        "exact_none": qs.filter(description=None),
        "contains_non_ascii": qs.filter(key__contains="ü/"),
        "startswith": qs.filter(key__startswith="qd/"),
        "endswith": qs.filter(key__endswith=".txt"),
        "in": qs.filter(key__in=["qd/a.csv", "other/o.txt", "missing"]),
        "gt_lte": qs.filter(id__gt=arts["a.csv"]["id"], id__lte=v2["id"]),
        "gte_lt": qs.filter(id__gte=arts["b.parquet"]["id"], id__lt=arts["other"]["id"]),
        "range": qs.filter(id__range=(arts["a.csv"]["id"], arts["ü/c.txt"]["id"])),
        "isnull": qs.filter(run_id__isnull=True),
        "notnull": qs.filter(run_id__isnull=False),
        "bool_and_alias": qs.filter(is_latest=False, version=None),
        "identity_sees_trash": qs.filter(uid=arts["gone"]["uid"]),
        "chained": qs.filter(key__startswith="qd/").filter(description__contains="a"),
        "eav_str": qs.filter(features__species="human"),
        "eav_str_ops": qs.filter(features__species__startswith="Ün", key__contains="c"),
        "eav_in": qs.filter(features__species__in=["mouse", "Ünïcode"]),
        "eav_num": qs.filter(features__temperature__gt=20),
        "eav_num_exact": qs.filter(features__temperature=21.0),
        "eav_bool": qs.filter(features__flag=True),
        "eav_bool_false": qs.filter(features__flag=False),
        "eav_json_null": qs.filter(features__note="null"),
        "eav_float_num": qs.filter(features__ratio__lt=1),
        "eav_isnull": qs.filter(features__species__isnull=True),
        "eav_present": qs.filter(features__temperature__isnull=False),
        "fk": qs.filter(run__transform__key="pipelines/qd.py"),
        "fk_isnull": qs.filter(run__isnull=False),
        "m2m": qs.filter(ulabels__name="B cell"),
        "m2m_prefix": qs.filter(ulabels__name__startswith="T"),
        "m2m_back": QuerySet(lh, "ulabel").filter(artifacts__key="qd/a.csv"),
        "storage": qs.filter(storage__root__endswith="storage"),
    }
    ops = [_uids(c) if c.registry == "artifact" else
           (lambda c=c: sorted(c.to_list("name"))) for c in cases.values()]
    ops += [cases["eav_str"].count, cases["m2m"].exists, qs.filter(key="nope").exists]
    driver, forced = _both_paths(spark, monkeypatch, ops)
    assert driver == forced
    got = dict(zip(cases, driver))
    assert got["identity_sees_trash"] == [arts["gone"]["uid"]]
    assert got["eav_bool"] == sorted([arts["a.csv"]["uid"], arts["ü/c.txt"]["uid"]])
    assert got["m2m"] == sorted([arts["a.csv"]["uid"], arts["b.parquet"]["uid"]])
    assert got["m2m_back"] == ["B cell", "T cell"]
    assert got["fk"] and got["eav_json_null"] == [arts["a.csv"]["uid"]]


def test_order_by_nulls_and_limit(lake, spark, monkeypatch):
    lh, *_ = lake
    qs = QuerySet(lh, "artifact").filter(key__startswith="qd/")
    ops = [
        lambda: [r["uid"] for r in qs.order_by("description", "id")._rows()],
        lambda: [r["uid"] for r in qs.order_by("-description", "-id")._rows()],
        lambda: qs.order_by("run_id", "-id").limit(3).to_list("uid"),
        lambda: qs.order_by("-id").limit(2).filter(is_latest=True).to_list("uid"),
        lambda: qs.order_by("-created_at", "id").first()["uid"],
    ]
    driver, forced = _both_paths(spark, monkeypatch, ops)
    assert driver == forced
    nulls_first = driver[0]
    assert [lh._registry_rows("artifact", uid=u)[0]["description"] for u in nulls_first][0] is None


def test_get_one_or_none_and_friends(lake, spark, monkeypatch):
    lh, arts, *_ = lake
    qs = QuerySet(lh, "artifact")
    ulabels = QuerySet(lh, "ulabel")

    def raises(fn, exc):
        try:
            fn()
        except exc as e:
            return type(e).__name__
        return None

    ops = [
        lambda: qs.get(key="qd/v.txt")["uid"],
        lambda: qs.filter(key__startswith="qd/").get(arts["v2"]["uid"][:16])["uid"],
        lambda: ulabels.get(name="T cell")["id"],
        lambda: qs.filter(key="qd/a.csv").one_or_none()["uid"],
        lambda: qs.filter(key="nope").one_or_none(),
        lambda: raises(qs.filter(key__startswith="qd/").one_or_none, LookupError),
        lambda: raises(lambda: qs.get(key="nope"), LookupError),
        lambda: qs.filter(key="qd/a.csv").values_list("id", flat=False),
        lambda: sorted(ulabels.filter(name__endswith="cell").lookup().__dir__()),
    ]
    driver, forced = _both_paths(spark, monkeypatch, ops)
    assert driver == forced
    assert driver[0] == arts["v2"]["uid"] and driver[4] is None
    assert driver[5:7] == ["MultipleResultsFound", "DoesNotExist"]


def test_to_dataframe_frames_equal(lake, spark, monkeypatch, caplog):
    lh, *_ = lake
    qs = QuerySet(lh, "artifact")
    ops = [
        lambda: qs.to_dataframe(features=["species", "temperature", "flag", "note"]),
        lambda: qs.filter(key__startswith="qd/").order_by("description", "-id").to_dataframe(
            features=["species"], limit=None
        ),
        lambda: qs.filter(key="nope").to_dataframe(features=["species"]),
        lambda: QuerySet(lh, "ulabel").to_dataframe(limit=3, order_by="name"),
    ]
    with caplog.at_level(logging.WARNING, logger="lamindb_spark"):
        driver, forced = _both_paths(spark, monkeypatch, ops)
    # a limit=None export keeps the set's order through the pivot join
    described = driver[1]["description"].fillna("").tolist()
    assert described == sorted(described) and described[0] == ""
    assert driver[1]["id"].tolist()[:3] == sorted(driver[1]["id"].tolist()[:3], reverse=True)
    for d, f in zip(driver, forced):
        pd.testing.assert_frame_equal(d, f)
    first = driver[0]
    assert str(first["created_at"].dtype) == "datetime64[ns]"
    assert first["run_id"].dtype == "float64"  # nullable int with nulls
    assert first["is_latest"].dtype == bool
    assert len(driver[2]) == 0 and len(driver[3]) == 3
    # the default limit truncates the 25 ulabels and warns on both paths
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="lamindb_spark"):
        d, f = _both_paths(spark, monkeypatch, [QuerySet(lh, "ulabel").to_dataframe])
    pd.testing.assert_frame_equal(d[0], f[0])
    assert len(d[0]) == 20
    assert sum("truncated query result" in r.message for r in caplog.records) == 2


def test_fallback_sets_run_spark(lake, spark, monkeypatch):
    lh, arts, *_ = lake
    qs = QuerySet(lh, "artifact")
    cases = [
        (qs.filter(key__regex=r"^qd/.*\.txt$"),
         qs.filter(key__startswith="qd/", key__endswith=".txt")),
        (qs.filter(Q(key="qd/a.csv") | Q(key="other/o.txt")),
         qs.filter(key__in=["qd/a.csv", "other/o.txt"])),
        (qs.exclude(key__startswith="qd/"), qs.filter(key__startswith="other/")),
        (qs.filter(key__iexact="QD/A.CSV"), qs.filter(key="qd/a.csv")),
        (qs.filter(features__mixed=7), qs.filter(key="other/o.txt")),
    ]
    for fallback, same in cases:
        got, group = _in_group(spark, _uids(fallback))
        assert _job_count(spark, group) >= 1
        assert got == _uids(same)()
    # include= and a float feature value build the frame with Spark
    plain = qs.to_dataframe(features=["species"])
    for kwargs in ({"include": ["ulabels__name"]}, {"features": ["species", "ratio"]}):
        frame, group = _in_group(spark, lambda: qs.to_dataframe(**kwargs))
        assert _job_count(spark, group) >= 1
        pd.testing.assert_frame_equal(frame[plain.columns[:-1]], plain[plain.columns[:-1]])
    assert frame["ratio"].tolist()[-1] == "0.5"


def test_spark_id_sets_have_no_aggregate(lake, monkeypatch):
    lh, *_ = lake
    _forced_spark(monkeypatch)
    qs = QuerySet(lh, "artifact")
    art = lh.read_raw("artifact")
    ann = lh.read_raw("annotation").filter(
        (F.col("entity_kind") == "artifact") & (F.col("feature_name") == "species")
        & (F.get_json_object("value_json", "$") == "human")
    )
    ul = lh.read_raw("ulabel").filter(F.col("name") == "B cell")
    br = lh.read_raw("artifact_ulabels").join(ul, F.col("ulabel_id") == ul["id"], "left_semi")
    parent = {
        "features__species": (
            art.join(ann.select("entity_id").distinct(), art["id"] == F.col("entity_id"),
                     "left_semi"),
            qs.filter(features__species="human"),
        ),
        "ulabels__name": (
            art.join(br.select("artifact_id").distinct(), art["id"] == F.col("artifact_id"),
                     "left_semi"),
            qs.filter(ulabels__name="B cell"),
        ),
    }
    for name, (old, new) in parent.items():
        plan = new._df._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" not in plan, name
        assert sorted(old.collect()) == sorted(new._df.collect()), name


def test_describe_run_and_collection_on_driver(lake, spark, monkeypatch):
    lh, _arts, coll = lake
    run_uid = lh._registry_rows("run")[0]["uid"]
    ops = [lambda: lh.describe_run(run_uid), lambda: lh.describe_collection(coll["key"])]
    driver, forced = _both_paths(spark, monkeypatch, ops)
    assert driver == forced
    assert '"n_members": 2' in driver[1] and '"outputs": [' in driver[0]


def test_set_built_before_a_write_sees_it(lake, spark, monkeypatch, tmp_path):
    lh, *_ = lake
    for limit in (lakehouse_mod._DRIVER_READ_MAX_BYTES, 0):
        monkeypatch.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", limit)
        qs = QuerySet(lh, "artifact").filter(key__startswith=f"late{limit}/")
        assert qs.count() == 0
        lh.register_artifact(_write(tmp_path / f"{limit}.txt", str(limit)),
                             key=f"late{limit}/x.txt")
        assert qs.to_list("key") == [f"late{limit}/x.txt"]
