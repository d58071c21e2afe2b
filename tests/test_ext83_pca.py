"""Power-iteration PCA (ext83): the fixed-8-round estimate must align
with the true top eigenvector of the quantized covariance (numpy eigh as
the independent reference) on planted anisotropic data, and the Gram
pass must be partition-invariant (integer exactness)."""

from __future__ import annotations

import numpy as np

from shortvideohybridanalyticslakehouse_spark.functions import similarity
from shortvideohybridanalyticslakehouse_spark.plans.registry import load_all

_D = 64


def _planted(spark, tmp_path, n=400, seed=11):
    rng = np.random.default_rng(seed)
    direction = np.zeros(_D)
    direction[3] = 0.8
    direction[17] = 0.6
    coeff = rng.normal(0.0, 0.3, size=n)
    noise = rng.normal(0.0, 0.02, size=(n, _D))
    mat = np.outer(coeff, direction) + noise
    rows = [
        (int(i), [float(x) for x in mat[i]], int(i % 3)) for i in range(n)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return mat, direction


def test_pca_aligns_with_numpy_eigh(spark, tmp_path):
    mat, direction = _planted(spark, tmp_path)
    reg = load_all()
    out = reg["embedding_pca_power"][0](spark, str(tmp_path)).collect()
    assert len(out) == _D
    v = np.zeros(_D)
    for r in out:
        v[r.dim] = r.loading
    lam = out[0].eigenvalue

    # independent reference: eigh of the SAME quantized covariance
    q = np.floor(mat.astype(np.float32).astype(np.float64) * 1e6 + 0.5)
    n = len(q)
    cov = (n * (q.T @ q) - np.outer(q.sum(0), q.sum(0))) / float(n * n)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 0.999, cos
    assert abs(lam - w[-1]) / w[-1] < 0.01, (lam, w[-1])
    # and the planted direction dominates
    pd_cos = abs(float(v @ direction) / np.linalg.norm(v))
    assert pd_cos > 0.99


def test_gram_pass_partition_invariant(spark, tmp_path):
    mat, _ = _planted(spark, tmp_path, n=120, seed=5)
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    a = {
        (r.i, r.j): r.s
        for r in similarity.int_gram_stats(emb.repartition(1)).collect()
    }
    b = {
        (r.i, r.j): r.s
        for r in similarity.int_gram_stats(emb.repartition(7)).collect()
    }
    assert a == b  # int64 partials reassociate losslessly
    q = np.floor(mat.astype(np.float32).astype(np.float64) * 1e6 + 0.5)
    assert a[(-1, -1)] == len(q)
    assert a[(3, 17)] == int((q[:, 3] * q[:, 17]).sum())
    assert a[(9, -1)] == int(q[:, 9].sum())


def test_pca_zero_rows_vs_oracle(spark, zero_row_dir):
    """Empty embeddings: 64 rows with loading 0.0 and a NULL eigenvalue.
    The oracle agrees on rows, columns, dims and eigenvalue; its loadings
    are NULL (a known divergence, kept as the engine always returned)."""
    from tools.check_oracle import duck_connect

    fn, oracle = load_all()["embedding_pca_power"]
    got = fn(spark, zero_row_dir).toPandas().sort_values("dim")
    con = duck_connect(zero_row_dir)
    want = con.sql(oracle).df().sort_values("dim")
    assert sorted(got.columns) == sorted(want.columns)
    assert list(got.dim) == list(want.dim) == list(range(_D))
    assert (got.loading == 0.0).all()
    assert got.eigenvalue.isna().all() and want.eigenvalue.isna().all()
    assert want.loading.isna().all()
