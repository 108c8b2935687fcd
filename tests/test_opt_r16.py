"""Equality pins for the r16 optimizations: the driver-local logreg
training fast path must be bit-identical to the distributed GD loop
(the same contract the r15 graph fast paths carry in test_opt_r15)."""

from pyspark.sql import functions as F

from lamindb_spark.functions.text import ws_tokens
from lamindb_spark.pipeline.classifier import featurize, train_logreg
from lamindb_spark.sources.literals import literal_table
from lamindb_spark.sources.readers import load_table

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
]


def _feats_for(spark, sf_dir, n_buckets=128):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = ws_tokens(F.col("text"), lowercase=True)
    return featurize(d, F.array_contains(toks, "spark"), n_buckets=n_buckets)


def test_local_training_equals_distributed_on_fixtures(spark):
    for sf_dir in SF_DIRS:
        feats = _feats_for(spark, sf_dir)
        local = train_logreg(feats, n_buckets=128, iters=5)
        dist = train_logreg(feats, n_buckets=128, iters=5, local_max_docs=None)
        assert local == dist, sf_dir


def test_local_training_equals_distributed_toy_hyperparams(spark):
    rows = [(i, f"tok{i % 7} tok{i % 3} filler words {i}") for i in range(40)]
    docs = literal_table(spark, rows, ["doc_id", "text"])
    feats = featurize(docs, F.col("doc_id") % 2 == 0, n_buckets=16)
    local = train_logreg(feats, n_buckets=16, iters=7, lr_num=3, lr_den=5)
    dist = train_logreg(
        feats, n_buckets=16, iters=7, lr_num=3, lr_den=5, local_max_docs=None
    )
    assert local == dist


def test_over_budget_falls_back_to_distributed(spark):
    rows = [(i, f"alpha beta w{i}") for i in range(10)]
    docs = literal_table(spark, rows, ["doc_id", "text"])
    feats = featurize(docs, F.col("doc_id") < 5, n_buckets=8)
    # cap below the row count forces the probe to overflow and the
    # distributed loop to run; results must still agree
    forced = train_logreg(feats, n_buckets=8, iters=3, local_max_docs=4)
    local = train_logreg(feats, n_buckets=8, iters=3, local_max_docs=200_000)
    assert forced == local


def test_empty_features_yield_zero_model(spark):
    docs = literal_table(spark, [(1, "x")], ["doc_id", "text"]).filter(
        F.col("doc_id") < 0
    )
    feats = featurize(docs, F.lit(True), n_buckets=8)
    w, bias = train_logreg(feats, n_buckets=8, iters=3)
    assert w == [0] * 8 and bias == 0


def test_empty_bucket_docs_still_count_in_n_docs(spark):
    # doc 2's text tokenizes to nothing → empty buckets array; it must
    # still contribute to n_docs (the GD denominator) and to the bias
    # gradient row in both paths
    docs = literal_table(
        spark, [(1, "spark rocks"), (2, "   "), (3, "noise junk")],
        ["doc_id", "text"],
    )
    toks = ws_tokens(F.col("text"), lowercase=True)
    feats = featurize(docs, F.array_contains(toks, "spark"), n_buckets=8)
    local = train_logreg(feats, n_buckets=8, iters=4)
    dist = train_logreg(feats, n_buckets=8, iters=4, local_max_docs=None)
    assert local == dist


def test_closure_unpinned_edges_match_pinned(spark, monkeypatch):
    """r16 edge-pin size gate (VERDICT r15 watch item #4): the
    driver-frontier scan mode and the distributed BFS each return the
    driver-local closure with the edge pin forced ON (cache /
    localCheckpoint of the edge projection — a spy proves it ran) and
    forced OFF (as at real scale, where the projection exceeds the
    ceiling — the spy proves it did not)."""
    from lamindb_spark.operators import graph as g

    edges = spark.createDataFrame(
        [(k, k // 2) for k in range(2, 200)], ["child_id", "parent_id"]
    )
    seeds = spark.createDataFrame([(150,), (151,)], ["id"])
    df_cls = type(edges)

    def run():
        return {
            r["id"]: r["depth"]
            for r in g.closure(
                edges, seeds, src="child_id", dst="parent_id", include_depth=True
            ).collect()
        }

    # the columns of every frame cache()/localCheckpoint() ran on; the
    # edge projection is the only one carrying both __s and __d
    pins = {"cache": [], "localCheckpoint": []}
    for method, calls in pins.items():
        real = getattr(df_cls, method)

        def wrapped(self, *a, _real=real, _calls=calls, **k):
            _calls.append(self.columns)
            return _real(self, *a, **k)

        monkeypatch.setattr(df_cls, method, wrapped)

    baseline = run()  # driver-local edge collect
    assert baseline
    monkeypatch.setattr(g, "_closure_edges_local", lambda *a, **k: None)
    # broadcast scan mode pins with cache(); the distributed BFS
    # (broadcast mode disabled) pins with localCheckpoint()
    for mode, method in (("broadcast", "cache"), ("bfs", "localCheckpoint")):
        if mode == "bfs":
            monkeypatch.setattr(g, "_closure_broadcast", lambda *a, **k: None)
        for pin in (True, False):
            monkeypatch.setattr(g, "_edge_pin_ok", lambda e, _pin=pin: _pin)
            pins[method].clear()
            assert run() == baseline, (mode, pin)
            assert (["__s", "__d"] in pins[method]) is pin, (mode, pin, pins[method])
