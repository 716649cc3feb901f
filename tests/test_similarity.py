import pytest


def test_ivf_pq_adc_ranks_are_wellformed(spark, sf_dir):
    """ADC ranking contract: ranks are dense 1..TOPK per query, adc is
    non-decreasing along each query's ranks, no self-matches, and the
    candidate side of the probe join carries PQ codes, never vectors
    (the plan must not re-read `v` on the corpus side of the join)."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        TOPK,
        ann_ivf_pq_topk,
    )

    df = ann_ivf_pq_topk(spark, sf_dir)
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOPK
        dists = [r.adc_dist for r in rs]
        assert dists == sorted(dists), f"adc not sorted for query {qid}"
        assert all(r.neighbor_id != qid for r in rs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "probe join must broadcast"
    # the stream (corpus) side AFTER the broadcast join must carry PQ
    # codes and never re-read the vector column (ADVICE r6: assert on
    # the join's downstream slice, not the whole plan string)
    after_join = plan.split("BroadcastHashJoin", 1)[1]
    assert "codes" in after_join


def test_pq_recall_eval_wellformed(spark, sf_dir):
    """Every query gets exactly one row; recall = hits/TOPK in [0,1].
    (On this corpus recall is ~0 BY DESIGN — untrained random codebooks
    must fail the acceptance gate; see the operator docstring.)"""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        N_QUERIES,
        TOPK,
        ann_pq_recall_eval,
    )

    rows = ann_pq_recall_eval(spark, sf_dir).collect()
    assert len(rows) == len({r.query_id for r in rows})
    assert len(rows) <= N_QUERIES
    for r in rows:
        assert 0 <= r.hits <= TOPK
        assert r.recall == r.hits / TOPK


def test_triplet_mining_semantics_and_plan(spark, sf_dir):
    """Batch-hard triplet contract: one row per anchor; the positive
    really is same-label (and the negative different-label) against the
    source table; margin is the rounded pos-neg difference; neither
    side is ever the anchor itself. Plan: anchors broadcast, extremes
    partial-aggregate map-side (partial min/max structs before the ONE
    hash Exchange, which carries |anchors| rows), and the scoring path
    stays JVM-side."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        N_TRIPLET_ANCHORS,
        emb_triplet_mining,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.sources.parquet import (
        load_table,
    )
    from etl_pipeline_from_mongo_json_to_postgre_spark.storage import physical_plan

    df = emb_triplet_mining(spark, sf_dir)
    rows = df.collect()
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label").collect()
    }
    assert len(rows) == N_TRIPLET_ANCHORS
    assert len({r.anchor_id for r in rows}) == N_TRIPLET_ANCHORS
    for r in rows:
        assert labels[r.anchor_id] == r.anchor_label
        # a lone-label anchor legitimately surfaces a NULL positive (and
        # a corpus of one label a NULL negative) — the operator contract
        # is NULL, not a dropped row; require side-consistency and only
        # check label/margin invariants on present sides
        assert (r.pos_id is None) == (r.pos_cos is None)
        assert (r.neg_id is None) == (r.neg_cos is None)
        assert (r.margin is None) == (r.pos_id is None or r.neg_id is None)
        if r.pos_id is not None:
            assert r.pos_id != r.anchor_id
            assert labels[r.pos_id] == r.anchor_label
        if r.neg_id is not None:
            assert r.neg_id != r.anchor_id
            assert labels[r.neg_id] != r.anchor_label
        if r.margin is not None:
            # margin computed from unrounded cosines, then rounded — may
            # differ from the rounded-operand difference by one ulp of 1e-6
            assert abs(r.margin - round(r.pos_cos - r.neg_cos, 6)) <= 2e-6
    # the shipped fixtures have >=2 members per label among the anchors,
    # so the NULL branch must NOT be what made the assertions pass
    assert all(r.pos_id is not None and r.neg_id is not None for r in rows)

    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan and "partial_max" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_literal_planes_reject_non_finite_values(spark, bad):
    """A nan/inf in a literal plane or matrix raises ValueError naming
    the value at construction, instead of rendering `nanD`/`infD` and
    failing later with an opaque ParseException."""
    from etl_pipeline_from_mongo_json_to_postgre_spark.operators.similarity import (
        _matrix_lit,
        _plane_lit,
    )

    with pytest.raises(ValueError, match=repr(bad).lstrip("-")):
        _plane_lit([0.5, bad, 1.0])
    with pytest.raises(ValueError, match=repr(bad).lstrip("-")):
        _matrix_lit([[0.5, 1.0], [bad, 2.0]])
    # finite literals still round-trip bit-exactly
    row = spark.range(1).select(
        _plane_lit([0.1, -2.5]).alias("p"),
        _matrix_lit([[0.1], [3e-300]]).alias("m"),
    ).collect()[0]
    assert row.p == [0.1, -2.5] and row.m == [[0.1], [3e-300]]
