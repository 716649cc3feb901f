"""Multi-probe cross-modal retriever (r13 task 1): the A/B gate that
the widened probe actually buys the recall it was born for, plus
structural invariants. Oracle parity is covered registry-wide by
test_oracle_parity.py.

Measured r13 census (Spark, canonical-payload recall@5 vs exact):
nprobe=4 -> mean 0.440/0.520/0.540 at sf0.001/0.01/0.1;
nprobe=8 -> mean 0.740/0.750/0.780 (worst query 0.0 -> 0.4).
"""

from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark.operators import (
    mm_probe,
    multimodal,
    similarity,
)

SF = "/root/testdata/sf0.001"


def _mean_recall(spark, nprobe: int) -> float:
    return multimodal.mm_crossmodal_recall_eval(spark, SF, nprobe).agg(
        F.avg("recall")).collect()[0][0]


def test_mp_probe_lifts_canonical_recall(spark):
    """The reason the entry exists: nprobe=MP_NPROBE must beat the
    nprobe=4 default materially (the r12 census number the verdict
    flagged), and clear the 0.70 floor the r13 measurement table
    pins."""
    base = _mean_recall(spark, 4)
    mp = _mean_recall(spark, mm_probe.MP_NPROBE)
    assert mp > base + 0.1, (base, mp)
    assert mp >= 0.70, mp


def test_mp_topk_is_superset_quality(spark):
    """Widening the probe can only ADD candidates: every (query,
    neighbor) the nprobe=4 retriever returns with cosine c either
    appears in the mp result or was displaced by a neighbor with
    cosine >= c (strictly better fill). Checked via per-query minimum
    cosine: mp's kth cosine is >= base's kth cosine for every query."""
    base = similarity.ann_ivf_topk(spark, SF, 4)
    mp = similarity.ann_ivf_topk(spark, SF, mm_probe.MP_NPROBE)
    b = base.groupBy("query_id").agg(F.min("cosine").alias("kth_base"))
    m = mp.groupBy("query_id").agg(F.min("cosine").alias("kth_mp"))
    bad = b.join(m, "query_id").where(
        F.col("kth_mp") < F.col("kth_base")).count()
    assert bad == 0


def test_mp_entry_registered_with_oracle():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert "mm_crossmodal_topk_mp" in q
    assert "mm_crossmodal_topk_mp" in o


def test_mp_canonical_is_keep_first(spark):
    """Canonical id is the MIN media_id among payload-duplicates
    (keep-first semantics, postgres_audit_repository.py:68-70):
    canonical_media_id <= neighbor_id always, with equality unless the
    payload has an earlier duplicate."""
    out = mm_probe.mm_crossmodal_topk_mp(spark, SF)
    bad = out.where(
        F.col("canonical_media_id") > F.col("neighbor_id")).count()
    assert bad == 0
