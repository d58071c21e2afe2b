"""kmeans_lloyd_integer: the numpy mapInPandas kernel must reproduce the
DuckDB oracle's list-HOF Lloyd rounds exactly (all-integer arithmetic is
associative, so this is exact equality, not approx)."""

from __future__ import annotations

import pytest

from tools.check_oracle import duck_connect, frame_hash, lane_vs_oracle


SF_DIR = "/root/testdata/sf0.001"


# NOTE: no module-level spark fixture — use conftest's shared local[4]
# session. get_spark() here would re-apply builder confs as RUNTIME confs
# on the existing session (shuffle.partitions 4 -> 32) and
# order-dependently break width-asserting tests later in the suite
# (the r13 toggle-file lesson).


def test_kernel_matches_hof_path(spark):
    got, want = lane_vs_oracle(spark, "kmeans_lloyd_integer", SF_DIR)
    assert got == want
    assert got[0] > 0


def test_no_seed_centroids_raises(spark, zero_row_dir):
    """An empty embeddings table has no seed vectors (vec_id < K): the
    lane raises a clear error, while the oracle returns zero clusters."""
    from shortvideohybridanalyticslakehouse_spark.plans.registry import (
        load_all,
    )

    fn, oracle = load_all()["kmeans_lloyd_integer"]
    with pytest.raises(ValueError, match="no seed centroids"):
        fn(spark, zero_row_dir)
    con = duck_connect(zero_row_dir)
    assert frame_hash(con.sql(oracle).df())[0] == 0


def test_kernel_partials_exact_tiny():
    """Unit-level: kernel partials on a hand-built batch reproduce the
    brute-force assignment/sums/inertia, including the assign-vs-measure
    centroid split used by the final stats pass."""
    import pandas as pd

    from shortvideohybridanalyticslakehouse_spark.plans.queries_ext91 import (
        _kmeans_partials_kernel,
    )

    xs = [
        [0, 0, 0],
        [10, 0, 0],
        [9, 1, 0],
        [0, 0, 12],
        [5, 5, 5],  # equidistant-ish: ties must go to the lowest k
    ]
    assign_c = [[0, 0, 0], [10, 0, 0]]
    measure_c = [[1, 1, 1], [8, 0, 0]]
    pdf = pd.DataFrame({"xq": [list(map(int, x)) for x in xs]})
    out = pd.concat(list(_kmeans_partials_kernel(assign_c, measure_c)(iter([pdf]))))

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    # brute force
    exp_assign = []
    for x in xs:
        dists = [(d2(x, c), k) for k, c in enumerate(assign_c)]
        exp_assign.append(min(dists)[1])
    for k in set(exp_assign):
        members = [x for x, a in zip(xs, exp_assign) if a == k]
        sub = out[out.k == k]
        assert int(sub.n.iloc[0]) == len(members)
        for d in range(3):
            assert int(sub[sub.d == d].s.iloc[0]) == sum(m[d] for m in members)
        assert int(sub.inert.sum()) == sum(
            d2(m, measure_c[k]) for m in members
        )
