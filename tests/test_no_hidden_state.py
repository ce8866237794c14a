"""No hidden training state: a query trains its quantizer during its
own build, every time, so a second run in the same session costs the
same Spark work as the first and returns the same rows."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _build_and_collect(spark, fn, group: str):
    """Build the query under job group `group`, returning the job ids
    the build alone launched and the collected rows."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn(spark, SF_SMOKE)
        build_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        rows = sorted(map(tuple, out.collect()))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ranked = getattr(out, "_ranked_cache", None)
    if ranked is not None:
        ranked.unpersist()
    return build_jobs, rows


def test_semantic_dedup_retrains_each_run(spark):
    from wilayah_aceh_etl_spark.plans.registry import all_specs

    fn = all_specs()["dedup_semantic_clusters"].fn
    first_jobs, first = _build_and_collect(spark, fn, "hidden-state-1")
    second_jobs, second = _build_and_collect(spark, fn, "hidden-state-2")
    assert first_jobs, "the first build trains, so it launches jobs"
    assert second_jobs, "the second build must retrain, not reuse a memo"
    assert first and second == first
