"""Plan-shape pins for the iterative-graph co-partitioning (VERDICT r7
task 5): checkpoint_partitioned must produce a frame whose preserved
hash layout the per-round joins actually REUSE — i.e. in the
sort-merge-join regime (the 100 TB shape, where the per-node state no
longer broadcasts) no round adds an Exchange above the checkpointed
links scan. Red if the LogicalRDD stops advertising its partitioning
(e.g. an AQE materialization sneaks back in) or if a refactor breaks
the key alignment between the links layout and the per-round agg."""

import pytest
from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark.operators.graph import (
    _broadcast_threshold,
    _parse_bytes,
    checkpoint_partitioned,
    pagerank,
    pagerank_layout_for,
)


def _test_edges(spark):
    """Small deterministic 97-node edge list honoring pagerank's
    contract (each undirected edge exactly once, canonical a < b)."""
    return (
        spark.range(2000)
        .select((F.col("id") % 97).alias("a"), ((F.col("id") * 7) % 97).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst"))
        .distinct()
    )


def _parents_of_scans(plan: str, scan_marker: str) -> list[list[str]]:
    """For each plan line containing ``scan_marker``, the chain of
    ancestor node lines (nearest-first), derived from indentation."""
    lines = plan.splitlines()

    def indent(s: str) -> int:
        return len(s) - len(s.lstrip(" :+-"))

    chains = []
    for i, line in enumerate(lines):
        if scan_marker not in line:
            continue
        chain, cur = [], indent(line)
        for j in range(i - 1, -1, -1):
            ij = indent(lines[j])
            if ij < cur:
                chain.append(lines[j].strip(" :+-"))
                cur = ij
        chains.append(chain)
    return chains


@pytest.fixture()
def smj_spark(spark):
    """Session with broadcast joins disabled — the regime where a
    non-broadcastable state side forces shuffles, i.e. where the
    preserved layout matters."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    yield spark
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_checkpoint_partitioned_advertises_hash_layout(spark):
    df = spark.range(500).select(
        (F.col("id") % 37).alias("src"), F.col("id").alias("v"))
    ck = checkpoint_partitioned(df, "src")
    part = ck._jdf.queryExecution().optimizedPlan().outputPartitioning()
    assert "hashpartitioning" in part.toString(), (
        "localCheckpoint lost the layout — AQE must be off for the "
        "final materialization pass")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert ck.rdd.getNumPartitions() == n


def _pagerank_link_chains(ranks):
    """Ancestor chains of the PRODUCTION pagerank links scans (the
    ExistingRDD carrying src/dst/deg; the 2-column adj checkpoint and
    any rank-side RDD carry no deg column) — ADVICE r13: the plan
    assertions must run against pagerank() itself, so a regression in
    the production layout choice actually fails these tests."""
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    chains = _parents_of_scans(plan, "Scan ExistingRDD")
    plan_lines = plan.splitlines()
    scan_idx = [j for j, l in enumerate(plan_lines) if "Scan ExistingRDD" in l]
    link_chains = [
        c for i, c in enumerate(chains) if "deg" in plan_lines[scan_idx[i]]
    ]
    assert link_chains, "no links ExistingRDD scan in the physical plan"
    return link_chains, plan


def test_pagerank_rounds_reuse_links_layout_in_smj_regime(smj_spark):
    """SMJ regime (broadcast disabled -> the auto layout must pick
    "src"): every round's links-side ExistingRDD scan must reach its
    SortMergeJoin/ShuffledHashJoin with NO Exchange between — the edge
    list is shuffled once at build, never per round (<= 1 edge-sized
    exchange per round total: only the aggregate's map-combined
    exchange remains). Red if the layout key regresses to dst here
    (the join re-shuffles links every round AND the aggregate
    re-shuffles its output — two edge-sized exchanges per round, the
    r13 scale cliff)."""
    spark = smj_spark
    ranks = pagerank(_test_edges(spark), iters=2)
    link_chains, plan = _pagerank_link_chains(ranks)
    for chain in link_chains:
        for node in chain:
            if node.startswith("SortMergeJoin") or node.startswith(
                    "ShuffledHashJoin"):
                break
            assert not node.startswith("Exchange"), (
                "a round re-shuffled the pre-partitioned links frame:\n"
                + plan)


def test_pagerank_dst_layout_makes_rounds_aggregate_without_exchange(spark):
    """Broadcast regime (default threshold, 97-node state -> the auto
    layout must pick "dst"): each round's contribution HashAggregate
    must consume the links scan with NO Exchange anywhere between —
    zero edge-sized shuffles per round. Red if the layout choice
    regresses to src here or if the checkpoint stops advertising its
    partitioning."""
    ranks = pagerank(_test_edges(spark), iters=2)
    link_chains, plan = _pagerank_link_chains(ranks)
    for chain in link_chains:
        for node in chain:
            assert not node.startswith("Exchange"), (
                "a pagerank round shuffled the dst-partitioned links "
                "frame (layout regression):\n" + plan)


def test_pagerank_layout_decision_boundaries():
    """Unit pin for the size-conditional layout rule: broadcastable
    node state -> dst; beyond the threshold, or broadcast disabled
    (-1), -> src."""
    ten_mb = 10 * 1024 * 1024
    assert pagerank_layout_for(97, ten_mb) == "dst"
    assert pagerank_layout_for(10_000_000, ten_mb) == "src"
    assert pagerank_layout_for(97, -1) == "src"
    assert pagerank_layout_for(0, 0) == "src"
    # conf byte-string forms Spark accepts
    assert _parse_bytes("10MB") == ten_mb
    assert _parse_bytes("10m") == ten_mb
    assert _parse_bytes("10485760b") == ten_mb
    assert _parse_bytes("10485760") == ten_mb
    assert _parse_bytes("-1") == -1
    assert _parse_bytes("1p") == 1 << 50
    assert _parse_bytes("1pb") == 1 << 50
    # an unparsable conf is no reason to crash pagerank: it falls back
    # to "src", the layout that is correct in either join regime
    with pytest.raises(ValueError):
        _parse_bytes("ten megabytes")
    assert _broadcast_threshold("ten megabytes") == -1
    assert pagerank_layout_for(97, _broadcast_threshold("ten megabytes")) == "src"
    assert _broadcast_threshold("10MB") == ten_mb


def test_pagerank_explicit_layout_param_respected(smj_spark):
    """layout="dst" pins the key regardless of regime (the documented
    override for callers that know their state size)."""
    ranks = pagerank(_test_edges(smj_spark), iters=1, layout="dst")
    # dst layout in the SMJ regime (where the auto rule would pick src):
    # the src join must re-shuffle the links scan, so an Exchange on src
    # sits between every links scan and its join
    link_chains, plan = _pagerank_link_chains(ranks)
    for chain in link_chains:
        below_join = []
        for node in chain:
            if node.startswith(("SortMergeJoin", "ShuffledHashJoin")):
                break
            below_join.append(node)
        assert any(n.startswith("Exchange hashpartitioning(src")
                   for n in below_join), (
            "layout='dst' was not honoured — the links scan reached the "
            "src join without a shuffle:\n" + plan)
    assert ranks.count() > 0
