"""VARIANT-native ingest path (VERDICT r6 task 7): twin-equivalence
with the MappingPlan projection and the single-parse plan shape."""

from etl_pipeline_from_mongo_json_to_postgre_spark.operators import (
    transform_queries,
    variant_ingest,
)


def test_variant_twin_matches_mapping_plan_path(spark, sf_dir):
    """The VARIANT path and the MappingPlan path must be
    indistinguishable to a consumer: identical rows on the same
    documents."""
    a = variant_ingest.p1_variant_projection(spark, sf_dir)
    b = transform_queries.p1_mapped_projection(spark, sf_dir)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_variant_plan_parses_once(spark, sf_dir):
    """The whole point of VARIANT ingest: ONE parseJson per document,
    every extraction a binary variant getter — CollapseProject must not
    inline the parse into each of the 6 getters."""
    df = variant_ingest.p1_variant_projection(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("parseJson") == 1, "document must be parsed exactly once"
    assert plan.count("try_variant_get") >= 5
    assert "from_json" not in plan

