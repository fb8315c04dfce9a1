"""Tests for the benchmark's own parts: the event-log folder against a log
from a tiny local job, span self time, the connected-components oracle and
BENCHMARK.json's workload names.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import eventlog  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
from spans import self_times  # noqa: E402


@pytest.fixture(scope="module")
def folded(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]").appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("g1", "test:python")

        def ident(batches):
            yield from batches

        df = spark.range(20_000, numPartitions=4).mapInPandas(ident, "id long")
        df.groupBy((F.col("id") % 7).alias("k")).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()
    finally:
        spark.stop()
    return eventlog.fold_dir(log_dir)


def test_fold_maps_jobs_to_groups(folded):
    g = folded["g1"]
    assert g["jobs"] >= 1 and g["stages"] >= 2 and g["tasks"] >= 4
    assert folded[""]["jobs"] >= 1
    assert g["retries"] == 0


def test_fold_reads_python_shuffle_and_cpu(folded):
    g = folded["g1"]
    assert g["py_bytes"] > 20_000 * 8  # the ids went to the workers and back
    assert g["py_s"] >= 0
    assert g["shuffle_bytes"] > 0
    assert g["cpu_s"] > 0
    assert g["straggler"] >= 1


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "a", "start": 3.0, "end": 5.0},  # overlaps b
        {"id": "d", "parent": "a", "start": 9.0, "end": 12.0},  # runs past a
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10 - 4 - 1)
    assert st["b"] == pytest.approx(3)


def test_components_label_by_smallest_index():
    inside = np.array([[1, 0, 0, 1],
                       [0, 1, 0, 0]], dtype=bool)
    # 8-connected: {0, 5} (diagonal) labelled 0, and {3} alone
    r = oracles.cluster_labels(np.where(inside, 1.0, 9.0), 0.0, 1.0)
    assert (r["n"], r["lsum"]) == (3, 0 + 0 + 3)
    vals = np.array([[1, 1, 2],
                     [2, 1, 2],
                     [2, 2, 2]], dtype=float)
    # 4-connected equal values: three 1s and six 2s
    r = oracles.region_sizes(vals)
    assert (r["n"], r["cells"], r["cells2"]) == (2, 9, 9 + 36)


def test_benchmark_json_names_the_workloads():
    from workloads import WORKLOADS

    assert [w["name"] for w in run.BENCHMARK["workloads"]] == list(WORKLOADS)


def test_moment_rtol_covers_a_one_pass_variance_far_from_zero():
    from fractions import Fraction

    from workloads import moment_rtol

    keys = 4_398_042_316_800 + np.random.default_rng(0).integers(0, 200_000, 5_000)
    n, mean, m2 = 0, 0.0, 0.0
    for k in keys.astype(np.float64):  # Welford, as Spark's var_pop updates
        n += 1
        d = k - mean
        mean += d / n
        m2 += d * (k - mean)
    ints = [int(k) for k in keys]
    exact = Fraction(n * sum(k * k for k in ints) - sum(ints) ** 2, n * n)
    rtol = moment_rtol(n, mean, m2 / n)
    assert abs(m2 / n - float(exact)) <= rtol * float(exact)
    # still tight enough to tell var_pop from var_samp
    assert rtol < 1 / (n - 1)
