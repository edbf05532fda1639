"""The benchmark's own tests.

    python3 -m pytest steadybench/tests -q

Run from the root of a checkout. The Spark test starts a ``local[2]``
session; the others need no JVM.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from steadybench import gen, metrics  # noqa: E402
from steadybench.digest import python_digest, spark_digest  # noqa: E402
from steadybench.run import _per_layer  # noqa: E402


def _files(d):
    """Every file under ``d``, as paths relative to ``d``."""
    return sorted(
        os.path.relpath(os.path.join(root, f), d) for root, _, fs in os.walk(d) for f in fs
    )


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_inputs(workload, tmp_path):
    make = gen.GENERATORS[workload]
    a = make(5, str(tmp_path / "a"))
    b = make(5, str(tmp_path / "b"))
    c = make(6, str(tmp_path / "c"))
    assert _files(a.path) == _files(b.path) and _files(a.path)
    _, mismatch, errors = filecmp.cmpfiles(a.path, b.path, _files(a.path), shallow=False)
    assert not mismatch and not errors
    assert (a.rows, a.bytes, a.planted_pairs) == (b.rows, b.bytes, b.planted_pairs)
    _, differ, _ = filecmp.cmpfiles(a.path, c.path, _files(a.path), shallow=False)
    assert differ, "another seed must give other inputs"


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_every_per_layer_name_is_reported_on_every_workload(workload):
    values = _per_layer(workload, [], [], [1.0, 1.0], [1.1, 1.2], 5.0, 9.0, 300.0)
    assert set(values) == set(metrics.per_layer())
    assert len(values) <= 128


def test_benchmark_json_matches_the_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == metrics.per_layer()


def test_python_digest_is_order_independent_and_sees_one_changed_row():
    rows = [(1, "a", 0.5), (2, "b", 0.25), (3, "c", 1.0 / 3)]
    d = python_digest(rows, 1, 1, 1)
    assert d == python_digest(list(reversed(rows)), 1, 1, 1)
    assert d != python_digest(rows[:2] + [(3, "c", 1.0 / 3 + 1e-5)], 1, 1, 1)
    assert d != python_digest(rows[:2] + [(4, "c", 1.0 / 3)], 1, 1, 1)


@pytest.fixture(scope="module")
def spark():
    from ml_hadoop_experiment_spark.common import get_session

    session = get_session(app_name="steadybench-tests", master="local[2]", shuffle_partitions=2,
                          extra_conf={"spark.ui.enabled": "false"})
    yield session
    session.stop()


def test_spark_digest_matches_python_digest_and_fails_on_a_perturbed_row(spark):
    from pyspark.sql import functions as F

    rows = [(i, f"doc{i}", i / 7.0) for i in range(200)]
    expected = python_digest(rows, 1, 1, 1)
    df = spark.createDataFrame(rows, "id long, text string, score double")
    assert spark_digest(df, ["id"], ["text"], ["score"]) == expected
    perturbed = df.withColumn(
        "score", F.when(F.col("id") == 17, F.col("score") + 1e-4).otherwise(F.col("score"))
    )
    assert spark_digest(perturbed, ["id"], ["text"], ["score"]) != expected
    dropped = df.where(F.col("id") != 17)
    assert spark_digest(dropped, ["id"], ["text"], ["score"]) != expected


def _perturb_one_row(real_digest):
    """A digest function that first changes the row holding the smallest
    value of the first digested column."""
    from pyspark.sql import functions as F

    def digest(df, int_cols=(), str_cols=(), float_cols=()):
        c = (list(int_cols) + list(str_cols) + list(float_cols))[0]
        lo = df.agg(F.min(c)).first()[0]
        bumped = F.concat(F.col(c), F.lit("x")) if c in str_cols else F.col(c) + 1
        df = df.withColumn(c, F.when(F.col(c) == F.lit(lo), bumped).otherwise(F.col(c)))
        return real_digest(df, int_cols, str_cols, float_cols)

    return digest


def test_a_pass_matches_its_reference_and_a_perturbed_row_fails_it(spark, tmp_path, monkeypatch):
    from steadybench import pipelines, reference
    from steadybench.run import Runner

    monkeypatch.setattr(gen, "CRAWL_BASE_DOCS", 150)
    monkeypatch.setattr(gen, "STREAM_ROWS_PER_FILE", 40)
    workload = "near_dup_and_stream_drain"
    inputs = gen.GENERATORS[workload](3, str(tmp_path / "input"))
    ref = reference.REFERENCES[workload](inputs, 3, str(tmp_path))
    runner = Runner(spark, workload, inputs, ref, 3, str(tmp_path))
    runner.one_pass(traced=False)
    assert (runner.attempted, runner.failed) == (1, 0)
    monkeypatch.setattr(pipelines, "spark_digest", _perturb_one_row(spark_digest))
    runner.one_pass(traced=False)
    assert (runner.attempted, runner.failed) == (2, 1)
