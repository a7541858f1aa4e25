"""pipeline.run_pipeline: the concurrently written outputs equal their
oracles, the caller's Spark local properties reach the stage jobs, plan
builds never overlap, and a failing stage fails the whole run."""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor, wait

from pyprima_spark import pipeline
from pyprima_spark.plans.oracles import ORACLES
from pyprima_spark.plans.queries import QUERIES
from tests.oracle_utils import assert_matches_oracle, run_oracle

STAGES = (*pipeline.CLEANING, *pipeline.INTERMEDIATE, *pipeline.MODEL)


def test_run_pipeline_outputs_match_oracles(spark, sf_dir, tmp_path):
    from pyprima_spark.sources.readers import read_european_csv

    sc = spark.sparkContext
    sc.setJobGroup("run_pipeline_caller", "caller's job group")
    try:
        manifest = pipeline.run_pipeline(spark, sf_dir, str(tmp_path / "out"))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert list(manifest) == [*STAGES, "demand_matrix_csv"]
    assert sc.statusTracker().getJobIdsForGroup("run_pipeline_caller")

    for name in STAGES:
        assert_matches_oracle(spark.read.parquet(manifest[name]), ORACLES[name], sf_dir)
    sql = ORACLES["export_demand_matrix"]
    want = run_oracle(sql, sf_dir)
    floats = [c for c in want.columns if want[c].dtype.kind == "f"]
    csv = read_european_csv(spark, manifest["demand_matrix_csv"], floats)
    assert_matches_oracle(csv, sql, sf_dir)


class StageFailed(Exception):
    pass


def _run_to_end(spark, sf_dir, out_dir, seconds=300):
    """The finished future of one run_pipeline call; a run that neither
    returns nor raises within ``seconds`` fails the test instead of
    hanging it."""
    runner = ThreadPoolExecutor(1)
    try:
        fut = runner.submit(pipeline.run_pipeline, spark, sf_dir, out_dir)
        wait([fut], timeout=seconds)
        assert fut.done(), f"run_pipeline still running after {seconds}s"
        return fut
    finally:
        runner.shutdown(wait=False)


def test_run_pipeline_reraises_build_failure(spark, sf_dir, tmp_path, monkeypatch):
    boom = StageFailed("dedup_names failed to plan")

    def fail(spark, sf_dir):
        raise boom

    monkeypatch.setitem(QUERIES, "dedup_names", fail)
    assert _run_to_end(spark, sf_dir, str(tmp_path / "out")).exception() is boom


def test_run_pipeline_reraises_write_failure(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setitem(
        QUERIES,
        "dedup_names",
        lambda spark, sf_dir: spark.range(1).selectExpr("raise_error('stage write failed')"),
    )
    exc = _run_to_end(spark, sf_dir, str(tmp_path / "out")).exception()
    assert exc is not None and "stage write failed" in str(exc)


def test_run_pipeline_builds_one_at_a_time_in_manifest_order(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Plan builds share unguarded state (the catalog memo, session
    confs), so they must never overlap, even with the interpreter
    switching threads as often as it can."""
    building, overlaps, built = [], [], []

    def stub(key):
        def build(spark, sf_dir):
            building.append(key)
            overlaps.append(len(building))
            time.sleep(0.002)
            building.remove(key)
            built.append(key)
            return spark.range(1)

        return build

    for key in STAGES:
        monkeypatch.setitem(QUERIES, key, stub(key))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        manifest = _run_to_end(spark, sf_dir, str(tmp_path / "out")).result()
    finally:
        sys.setswitchinterval(old)
    assert max(overlaps) == 1
    assert built == [*STAGES, "export_demand_matrix"]
    assert list(manifest) == [*STAGES, "demand_matrix_csv"]
