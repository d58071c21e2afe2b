"""driverfold.spark_round must be bit-identical to Spark SQL round() on
doubles, and the markov driver folds must reproduce the DuckDB oracles'
in-plan list folds exactly (sf0.001 and an empty events table)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.driverfold import (
    spark_round,
)
from tools.check_oracle import lane_vs_oracle

SF_DIR = "/root/testdata/sf0.001"


# NOTE: no module-level spark fixture — use conftest's shared local[4]
# session. get_spark() here would re-apply builder confs as RUNTIME confs
# on the existing session (shuffle.partitions 4 -> 32) and
# order-dependently break width-asserting tests later in the suite
# (the r13 toggle-file lesson).


def test_spark_round_bit_exact_grid(spark):
    rng = random.Random(7)
    vals = [
        0.0, -0.0, 1.0, -1.0, 0.5, -0.5,
        0.2999995, 0.30000049999, 123.4567890123449999,
        1e-13, 5e-13, -5e-13, 1.5e-12, 2.5e-12,
        0.1 + 0.2, 1.0 / 3.0, 2.0 / 3.0, math.pi, -math.e,
        59.9999999999995, 1e20,
    ]
    vals += [rng.uniform(-100, 100) for _ in range(500)]
    vals += [rng.uniform(-1, 1) * 10 ** rng.randint(-15, 3) for _ in range(500)]
    for scale in (6, 8, 12):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "i int, x double"
        ).select("i", F.round("x", scale).alias("r"))
        got = {r.i: r.r for r in df.collect()}
        for i, v in enumerate(vals):
            mine = spark_round(v, scale)
            theirs = got[i]
            assert mine.hex() == theirs.hex(), (v, scale, mine, theirs)


MARKOV_LANES = [
    "markov_removal_attribution",
    "markov_expected_steps",
    "markov_stationary_power",
]


@pytest.mark.parametrize("lane", MARKOV_LANES)
def test_markov_driver_fold_matches_inplan(spark, lane):
    got, want = lane_vs_oracle(spark, lane, SF_DIR)
    assert got == want
    assert got[0] > 0


@pytest.mark.parametrize("lane", MARKOV_LANES)
def test_markov_zero_events_matches_oracle(spark, lane, zero_row_dir):
    """Without events every matrix row falls back to its backstop cell
    (null-absorbing or self-loop); the fold still runs and agrees with
    the oracle."""
    got, want = lane_vs_oracle(spark, lane, zero_row_dir)
    assert got == want
    assert got[0] > 0
