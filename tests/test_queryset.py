"""QuerySet surface: lookups, relations, branch defaults, get/one,
search, EAV feature filters (reference tests/pydata/test_queryset.py)."""

import pytest
from pyspark.sql import functions as F

from lamindb_spark.catalog.query import (
    DoesNotExist,
    MultipleResultsFound,
    QuerySet,
)
from lamindb_spark.operators.filters import Q
from tests.conftest import SF_DIR


@pytest.fixture()
def lake(lakehouse):
    """Lakehouse with a small populated catalog + lineage chain."""
    lakehouse.save(
        "ulabel",
        [
            {"name": "T cell", "synonyms": "T-cell|T lymphocyte"},
            {"name": "B cell", "synonyms": "B-cell"},
            {"name": "monocyte", "synonyms": None},
        ],
    )
    from lamindb_spark.lineage.context import Context

    ctx = Context(lakehouse).track("pipelines/ingest.py", source_code="print('v1')")
    a1 = lakehouse.register_artifact(f"{SF_DIR}/nation.parquet", key="tpch/nation.parquet")
    a2 = lakehouse.register_artifact(f"{SF_DIR}/region.parquet", key="tpch/region.parquet")
    ctx.finish()
    lakehouse.annotate("artifact", a1["id"], {"species": "human", "temperature": 21.5})
    lakehouse.annotate("artifact", a2["id"], {"species": "mouse", "temperature": 36.0})
    return lakehouse


def qs(lake, name):
    return QuerySet(lake, name)


def test_filter_and_exclude(lake):
    assert qs(lake, "artifact").filter(suffix=".parquet").count() == 2
    assert qs(lake, "artifact").filter(key__startswith="tpch/").count() == 2
    assert qs(lake, "artifact").exclude(key__contains="nation").count() == 1
    assert qs(lake, "ulabel").filter(Q(name="T cell") | Q(name="B cell")).count() == 2


def test_relation_path_traversal(lake):
    # artifact → run → transform (J1 chain, compiled to semi-joins)
    got = qs(lake, "artifact").filter(run__transform__key="pipelines/ingest.py")
    assert got.count() == 2
    none = qs(lake, "artifact").filter(run__transform__key="other.py")
    assert none.count() == 0


def test_branch_default_injection(lake):
    row = qs(lake, "artifact").filter(key__contains="nation").one()
    lake.delete("artifact", [row["id"]])
    # normal filters hide trash (F3)
    assert qs(lake, "artifact").filter(suffix=".parquet").count() == 1
    # identity lookups bypass the branch filter (reference :273-293)
    assert qs(lake, "artifact").filter(uid=row["uid"]).count() == 1
    lake.restore("artifact", [row["id"]])


def test_get_semantics(lake, monkeypatch):
    import os

    from lamindb_spark.catalog import lakehouse as lakehouse_mod

    row = qs(lake, "artifact").filter(key__contains="region").one()
    other = qs(lake, "artifact").filter(key__contains="nation").one()
    shared = os.path.commonprefix([row["uid"], other["uid"]])
    lake.delete("artifact", [other["id"]])
    # bare get(idlike) reads on the driver; byte limit 0 forces the
    # Spark scan of the same files — both must answer alike
    for limit in (lakehouse_mod._DRIVER_READ_MAX_BYTES, 0):
        monkeypatch.setattr(lakehouse_mod, "_DRIVER_READ_MAX_BYTES", limit)
        assert qs(lake, "artifact").get(row["uid"])["id"] == row["id"]
        assert qs(lake, "artifact").get(row["id"])["uid"] == row["uid"]
        # uid prefix + is_latest fallback (W2)
        assert qs(lake, "artifact").get(row["uid"][:8])["id"] == row["id"]
        with pytest.raises(DoesNotExist):
            qs(lake, "artifact").get("zzzzzzzz")
        with pytest.raises(DoesNotExist):
            qs(lake, "artifact").get(10**9)
        # identity lookups see every branch: the trashed row by uid,
        # and both family heads (main + trash) behind a shared prefix
        trashed = qs(lake, "artifact").get(other["uid"])
        assert trashed["id"] == other["id"] and trashed["branch_id"] == -1
        with pytest.raises(MultipleResultsFound):
            qs(lake, "artifact").get(shared)
        # get on a chain honours the chain
        chained = qs(lake, "artifact").filter(key__contains="region")
        with pytest.raises(DoesNotExist):
            chained.get(other["uid"])
        assert chained.get(row["uid"])["id"] == row["id"]


def test_one_first_cardinality(lake):
    with pytest.raises(MultipleResultsFound):
        qs(lake, "artifact").filter(suffix=".parquet").one()
    assert qs(lake, "artifact").filter(suffix=".csv").first() is None
    with pytest.raises(DoesNotExist):
        qs(lake, "artifact").filter(suffix=".csv").one()


def test_order_values_distinct(lake):
    names = qs(lake, "ulabel").order_by("-name").to_list("name")
    assert names == sorted(names, reverse=True)
    assert qs(lake, "artifact").values("suffix").distinct().count() == 1


def test_search_ranks_exact_first(lake):
    got = qs(lake, "ulabel").search("T cell").df().collect()
    assert got[0]["name"] == "T cell"
    # synonym match also found (Se1 synonym rank)
    syn = qs(lake, "ulabel").search("T lymphocyte").df().collect()
    assert syn and syn[0]["name"] == "T cell"


def test_eav_feature_filters(lake):
    # F5: feature kwargs route to annotation semi-joins
    assert qs(lake, "artifact").filter(features__species="human").count() == 1
    assert qs(lake, "artifact").filter(features__temperature__gt=30).count() == 1
    assert qs(lake, "artifact").filter(features__temperature__isnull=True).count() == 0
    assert qs(lake, "artifact").filter(features__missing_feature__isnull=True).count() == 2


def test_unknown_field_lists_available(lake):
    with pytest.raises(ValueError, match="available"):
        qs(lake, "artifact").filter(nonexistent_field=1)


def test_to_dataframe_pivot(lake):
    pdf = qs(lake, "artifact").to_dataframe(features=["species", "temperature"])
    assert "species" in pdf.columns
    by_key = pdf.set_index("key")
    assert by_key.loc["tpch/nation.parquet", "species"] == "human"


def test_feature_predicate_objects(lakehouse, spark):
    from lamindb_spark.catalog.query import Feature, QuerySet

    df = spark.range(1).withColumnRenamed("id", "x")
    a1 = lakehouse.save_dataframe(df, "fp/a1.parquet")
    a2 = lakehouse.save_dataframe(df.withColumn("y", df.x + 1), "fp/a2.parquet")
    lakehouse.annotate("artifact", a1["id"], {"gc_content": 0.3})
    lakehouse.annotate("artifact", a2["id"], {"gc_content": 0.7})
    qs = QuerySet(lakehouse, "artifact")
    assert {r["id"] for r in qs.filter(Feature("gc_content") > 0.5).df().collect()} == {a2["id"]}
    assert {r["id"] for r in qs.filter(Feature("gc_content") <= 0.5).df().collect()} == {a1["id"]}
    # != keeps rows whose value differs OR that lack the annotation
    ne = {r["id"] for r in qs.filter(Feature("gc_content") != 0.3).df().collect()}
    assert a2["id"] in ne and a1["id"] not in ne
    # presence filter
    have = {r["id"] for r in qs.filter(Feature("gc_content").is_null(False)).df().collect()}
    assert {a1["id"], a2["id"]} <= have


# Round 10 (VERDICT r9 #2): to_dataframe default-limit + truncation
# semantics (reference query_set.py:1167-1189, 1294-1297).


def test_to_dataframe_default_limit_truncates_and_warns(lakehouse, caplog):
    import logging

    lakehouse.save("ulabel", [{"name": f"lbl-{i:03d}"} for i in range(25)])
    with caplog.at_level(logging.WARNING, logger="lamindb_spark"):
        pdf = QuerySet(lakehouse, "ulabel").to_dataframe()
    assert len(pdf) == 20
    assert any("truncated query result to limit=20" in r.message for r in caplog.records)
    # default order_by="-id": newest ids first, order preserved in pandas
    ids = list(pdf["id"])
    assert ids == sorted(ids, reverse=True)


def test_to_dataframe_explicit_limit_no_warning(lakehouse, caplog):
    import logging

    lakehouse.save("ulabel", [{"name": f"lbl-{i:03d}"} for i in range(25)])
    with caplog.at_level(logging.WARNING, logger="lamindb_spark"):
        pdf = QuerySet(lakehouse, "ulabel").to_dataframe(limit=5)
    assert len(pdf) == 5
    assert not any("truncated query result" in r.message for r in caplog.records)


def test_to_dataframe_limit_none_full_export(lakehouse):
    lakehouse.save("ulabel", [{"name": f"lbl-{i:03d}"} for i in range(25)])
    pdf = QuerySet(lakehouse, "ulabel").to_dataframe(limit=None)
    assert len(pdf) == 25


def test_to_dataframe_large_explicit_limit_broadcast_path(lakehouse):
    """ADVICE r10: limits past the literal-array threshold take the
    broadcast (id, pos) join — same rows, same preserved order, no
    plan-sized literal array."""
    lakehouse.save("ulabel", [{"name": f"lbl-{i:04d}"} for i in range(320)])
    pdf = QuerySet(lakehouse, "ulabel").to_dataframe(limit=300)
    assert len(pdf) == 300
    ids = list(pdf["id"])
    assert ids == sorted(ids, reverse=True)  # default -id order preserved
    assert "__pos" not in pdf.columns


def test_to_dataframe_respects_existing_order(lakehouse):
    lakehouse.save("ulabel", [{"name": f"lbl-{i:03d}"} for i in range(25)])
    pdf = QuerySet(lakehouse, "ulabel").order_by("name").to_dataframe(limit=3)
    assert list(pdf["name"]) == ["lbl-000", "lbl-001", "lbl-002"]


def test_to_dataframe_under_limit_no_truncation(lake):
    # small registry: all rows, no warning path, include/features intact
    pdf = qs(lake, "artifact").to_dataframe(features=["species"])
    assert len(pdf) == 2


def test_queryset_delete_and_update_set_based(lakehouse):
    """Reference QuerySet.delete (query_set.py:1312) + Django-style
    update: set-based joins in the catalog, no collected id lists."""
    lakehouse.save("ulabel", [{"name": f"qd-{i}"} for i in range(6)])
    QuerySet(lakehouse, "ulabel").filter(
        name__startswith="qd-"
    ).filter(name__gt="qd-2").delete()
    # fresh queryset: plans built before a rewrite pin the old files
    left = set(QuerySet(lakehouse, "ulabel").all().to_list("name"))
    assert left == {"qd-0", "qd-1", "qd-2"}
    # trashed, not removed: raw still sees them on the trash branch
    assert lakehouse.read_raw("ulabel").filter("branch_id = -1").count() == 3
    # permanent removes rows
    QuerySet(lakehouse, "ulabel").filter(name="qd-0").delete(permanent=True)
    assert lakehouse.read_raw("ulabel").filter("name = 'qd-0'").count() == 0

    QuerySet(lakehouse, "ulabel").filter(name="qd-1").update(
        description="bulk-updated"
    )
    row = lakehouse.read_raw("ulabel").filter("name = 'qd-1'").first()
    assert row["description"] == "bulk-updated"
    with pytest.raises(KeyError, match="unknown column"):
        QuerySet(lakehouse, "ulabel").filter(name="qd-1").update(nope=1)


def test_queryset_validate_inspect_standardize(lakehouse):
    """Reference CanCurate surface ON the queryset
    (query_set.py:1434-1479): order-preserving membership, split, and
    synonym standardization against the queryset's own rows."""
    lakehouse.save(
        "ulabel",
        [
            {"name": "T cell", "synonyms": "T-cell|T lymphocyte"},
            {"name": "B cell", "synonyms": None},
        ],
    )
    qs = QuerySet(lakehouse, "ulabel")
    assert qs.validate(["T cell", "nope", "B cell"]) == [True, False, True]
    insp = qs.inspect(["T cell", "nope"])
    assert insp == {"validated": ["T cell"], "non_validated": ["nope"]}
    assert qs.standardize(["T-cell", "B cell", "mystery"]) == [
        "T cell",
        "B cell",
        "mystery",
    ]


def test_queryset_update_casts_to_registry_type(lakehouse):
    """Review finding: an uncast literal of a wider type (float into a
    long column) coerced the whole column, the rewrite landed
    mismatched parquet, and every later fixed-schema read failed —
    update must cast to the registry schema's type."""
    lakehouse.save("ulabel", [{"name": "tc-a"}, {"name": "tc-b"}])
    QuerySet(lakehouse, "ulabel").filter(name="tc-a").update(type_id=1.0)
    rows = {
        r["name"]: r["type_id"]
        for r in lakehouse.read_raw("ulabel").collect()  # readable post-update
    }
    assert rows["tc-a"] == 1 and rows["tc-b"] is None
    assert isinstance(rows["tc-a"], int)  # stayed LongType
