"""Lanes whose round-13 plan rewrites once sat behind env toggles: each
must hash-match its DuckDB oracle at sf0.001 (the toggles and their
legacy plans are gone; the second field of each row names the retired
toggle so the test ids stay stable), and deferred checkpoint releases
must actually free blocks at the next query build."""

from __future__ import annotations

import pytest

from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    drain_deferred,
    load_all,
    release_materialized,
)
from tools.check_oracle import lane_vs_oracle

SF_DIR = "/root/testdata/sf0.001"

TOGGLED = [
    ("semdedup_cluster_prune", "SVH_SEMDEDUP_ARROW"),
    ("covis_rule_quality", "SVH_COVIS_CKPT"),
    ("item_covisitation_topk", "SVH_COVIS_CKPT"),
    ("covisitation_backtest_hit_rate", "SVH_COVIS_CKPT"),
    ("market_basket_lift", "SVH_BASKET_CKPT"),
    ("rfm_segments", "SVH_RFM_FUSED"),
    ("textrank_keywords", "SVH_TEXTRANK_CKPT"),
    ("near_dup_lsh_verified", "SVH_LSHV_ONCE"),
    ("label_centroid_db_index", "SVH_CENTROID_ARROW"),
    ("centroid_label_confusion", "SVH_CENTROID_ARROW"),
]


# NOTE deliberately NO module-level spark fixture: the suite shares
# conftest's local[4] session, and calling get_spark() here would
# silently RAISE the shared session's runtime spark.sql.shuffle.partitions
# to 32 (builder confs apply as runtime confs on getOrCreate) — which
# makes EnsureRequirements align scaled width-5 repartitions up to 32
# and order-dependently breaks every width-asserting test that runs
# after this file (found r13: test_scaled_shuffle failed only in-suite).


@pytest.mark.parametrize("lane,env", TOGGLED)
def test_toggle_equality(spark, lane, env):
    got, want = lane_vs_oracle(spark, lane, SF_DIR)
    assert got == want
    # covis_rule_quality is legitimately empty at sf0.001 (min-support
    # filter); every other lane must produce rows
    if lane != "covis_rule_quality":
        assert got[0] > 0


def test_deferred_checkpoints_released_at_next_build(spark):
    """single_pass / loop checkpoints are deferred-released: after the
    NEXT registered builder runs, no blocks from the prior lane linger."""
    registry = load_all()
    fn, _ = registry["similarity_graph_kcore"]  # defers edge/alive blocks
    # Diff against the pre-existing set (the hygiene-gate convention):
    # other surfaces — e.g. the serving pipeline's documented
    # one-generation rolled cache — may legitimately hold blocks when
    # the full suite runs this test mid-session; THIS lane's deferred
    # blocks are what must appear and then drain.
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    df = fn(spark, SF_DIR)
    df.collect()

    def _new():
        return (
            set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
            - before
        )

    assert _new()  # blocks deferred, not leaked
    drain_deferred()
    assert _new() == set()



def _failing_unpersist(*args, **kwargs):
    raise RuntimeError("unpersist failed")


class _FailingPlanLookup:
    """Stands in for ``df._jdf``: unpersist works, the plan lookup that
    finds the checkpoint RDD fails."""

    def unpersist(self, *args):
        return self

    def queryExecution(self):
        raise RuntimeError("plan lookup failed")


@pytest.mark.parametrize(
    "attr,broken",
    [("unpersist", _failing_unpersist), ("_jdf", _FailingPlanLookup())],
    ids=["unpersist", "checkpoint_rdd"],
)
def test_failing_release_raises(spark, monkeypatch, attr, broken):
    """Both release steps surface their errors instead of leaving the
    blocks behind silently."""
    df = spark.range(10).localCheckpoint(eager=True)
    monkeypatch.setattr(df, attr, broken)
    with pytest.raises(RuntimeError, match="failed"):
        release_materialized(df)
    monkeypatch.undo()
    release_materialized(df)
