"""Stress-only harness entries shared by stress_sf1.py and
stress_sf10.py — ONE definition so the two decades always measure the
identical pipeline (review r9: the copies could silently diverge)."""

from __future__ import annotations


def _q163_setsim_bounded(spark, sf_dir):
    """setsim_partner_profile at q163's exact parameters (3-word
    shingles, J >= 1/2) — the density-bounded PPJoin profile."""
    from alpaca_pyspark_spark.operators.dedup import setsim_partner_profile
    from alpaca_pyspark_spark.session import tune
    from alpaca_pyspark_spark.tables import load

    tune(spark)
    return setsim_partner_profile(
        load(spark, sf_dir, "documents"),
        id_col="doc_id", text_col="text", shingle_k=3,
        threshold_num=1, threshold_den=2,
    )


def _q92_cluster_reps_lsh(spark, sf_dir):
    """q92's clustering + representative rule under the LSH scale
    dial — now REGISTERED as q92_cluster_reps_lsh (round 10, VERDICT
    r9 item 5); this harness entry delegates to the registry so the
    stress decades and the oracle gate can never measure different
    pipelines."""
    from alpaca_pyspark_spark.queries.search import q92_cluster_reps_lsh

    return q92_cluster_reps_lsh(spark, sf_dir)


EXTRA = {
    "q163_setsim_bounded": _q163_setsim_bounded,
    "q92_cluster_reps_lsh": _q92_cluster_reps_lsh,
}
