"""Self-tests of the benchmark harness; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import stats  # noqa: E402
from tracing import covered  # noqa: E402


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("n", [1, 5, 10, 11, 20, 22, 44, 99, 100, 101, 250])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    q, value = stats.tail_percentile(samples)
    if q == 50:
        assert value == stats.median(samples)
    else:
        assert sum(s > value for s in samples) >= 10
        if q < 90:
            # the next percentile up would leave fewer than ten beyond
            rank = -(-(q + 1) * n // 100)
            assert n - rank < 10


def test_tail_percentile_is_p90_with_enough_samples():
    samples = list(range(1, 201))
    assert stats.tail_percentile(samples) == (90, 180.0)
    assert stats.tail_percentile(list(range(22)))[0] == 54


def test_metric_names_and_units_are_well_formed():
    for table in (stats.END_TO_END, stats.PER_LAYER):
        for name, unit in table.items():
            assert stats.NAME_RE.match(name), name
            assert len(unit) <= 16 and unit.replace("/", "").isalnum(), unit
    assert not set(stats.END_TO_END) & set(stats.PER_LAYER)


def test_benchmark_json_matches_metric_tables():
    b = benchmark_json()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert e2e == stats.END_TO_END
    assert layer == stats.PER_LAYER
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"]) <= 0.25


def test_result_line_lists_every_metric_with_its_unit():
    metrics = {name: 1.5 for name in stats.END_TO_END}
    line = stats.result_line(metrics, stats.END_TO_END, attempted=4, failed=0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert line["metrics"] == {
        name: {"value": 1.5, "unit": unit} for name, unit in stats.END_TO_END.items()
    }
    del metrics["job_s"]
    with pytest.raises(KeyError):
        stats.result_line(metrics, stats.END_TO_END, attempted=4, failed=0)


def _energy_outputs(tmp_path, frame):
    """Write ``frame`` as every energy_pipeline output, parquet and CSV."""
    import workloads

    for name in workloads.EnergyPipeline.outputs:
        d = tmp_path / name
        d.mkdir()
        if name == "demand_matrix_csv":
            frame.to_csv(d / "part-00000.csv", sep=";", decimal=",", index=False)
        else:
            frame.to_parquet(d / "part-00000.parquet", index=False)


def test_injected_output_mismatch_counts_as_failed(tmp_path):
    import workloads
    from tests.oracle_utils import normalize

    frame = pd.DataFrame({"zone": ["a", "b", "c"], "mw": [1.25, 2.5, 3.75]})
    oracles = {k: normalize(frame) for k in workloads.EnergyPipeline.oracle_keys}
    wl = workloads.EnergyPipeline(None, str(tmp_path), None, oracles)
    _energy_outputs(tmp_path, frame)
    assert [err for _, err in wl.check(str(tmp_path), None)] == [None] * 20

    bad = frame.assign(mw=[1.25, 2.5, 3.8])
    bad.to_parquet(tmp_path / "mode_impute" / "part-00000.parquet", index=False)
    checks = wl.check(str(tmp_path), None)
    failed = [name for name, err in checks if err is not None]
    assert failed == ["mode_impute"]
    line = stats.result_line(
        {name: 1.0 for name in stats.END_TO_END}, stats.END_TO_END,
        attempted=len(checks), failed=len(failed),
    )
    assert line["correct"] is False and line["failed"] == 1


def test_query_mix_mismatch_and_error_count_as_failed():
    import workloads
    from tests.oracle_utils import normalize

    keys = workloads.TPCH_KEYS
    frame = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    wl = workloads.QueryMix(None, "", None, {k: normalize(frame) for k in keys})
    rows = [tuple(r) for r in frame.itertuples(index=False)]
    results = {k: (["k", "v"], rows) for k in keys}
    assert all(err is None for _, err in wl.check("", results))
    results[keys[0]] = (["k", "v"], [(1, 0.5), (2, 1.6)])
    results[keys[1]] = RuntimeError("boom")
    failed = [k for k, err in wl.check("", results) if err is not None]
    assert failed == [keys[0], keys[1]]


def test_datagen_is_deterministic_per_seed():
    a = datagen.make_tables(7, 0.001)
    b = datagen.make_tables(7, 0.001)
    c = datagen.make_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_covered_merges_and_clips_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered([], 0, 1) == 0


def test_recorder_marks_operations_and_restores_the_program():
    import pyprima_spark.catalog as catalog
    import pyprima_spark.plans.round8 as round8
    from pyprima_spark.plans.queries import QUERIES
    from pyspark.sql.readwriter import DataFrameWriter
    from tracing import Recorder

    class FakeSpark:
        sparkContext = None

    QUERIES["_probe"] = lambda spark, sf_dir: "plan"
    before = dict(QUERIES)
    writer, load_table = DataFrameWriter.parquet, catalog.load_table
    rec = Recorder(FakeSpark())
    try:
        rec.install(spans=True)
        assert QUERIES["_probe"] is not before["_probe"]
        assert round8.load_table is not load_table
        assert DataFrameWriter.parquet is not writer
        rec.pass_id = "p"
        assert QUERIES["_probe"](None, "") == "plan"
        assert QUERIES["_probe"](None, "") == "plan"
        rec.end_op()
        assert [op.name for op in rec.pass_ops("p")] == ["_probe", "_probe"]
        assert rec.spans == []  # spans record only while traced
    finally:
        rec.close()
        del QUERIES["_probe"]
    del before["_probe"]
    assert QUERIES == before
    assert round8.load_table is load_table and catalog.load_table is load_table
    assert DataFrameWriter.parquet is writer


def test_query_mix_leaves_out_only_named_tpch_keys():
    import workloads
    from pyprima_spark.plans.queries import QUERIES

    assert set(workloads.EXCLUDED_TPCH_KEYS) <= set(QUERIES)
    assert not set(workloads.EXCLUDED_TPCH_KEYS) & set(workloads.TPCH_KEYS)
    assert len(workloads.TPCH_KEYS) + len(workloads.EXCLUDED_TPCH_KEYS) == 22
