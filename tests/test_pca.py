"""The driver-side PCA fit (similarity.pca_power) reproduces the DuckDB
oracle (pca_power_sql) bit for bit on a seeded random cloud: the same
fixed-point sums and the same IEEE op order, whatever the data."""

import math

import duckdb
import numpy as np
import pyarrow as pa

from edgelake_spark.functions.similarity import _FIX, pca_power, pca_power_sql

DIM = 16


def _cloud(seed: int, n: int = 300) -> np.ndarray:
    rng = np.random.default_rng(seed)
    scales = np.linspace(3.0, 0.1, DIM)  # one dominant axis
    return (rng.normal(size=(n, DIM)) * scales + rng.uniform(-1, 1, DIM)).astype(np.float32)


def _gram_rows(vecs: np.ndarray) -> list[tuple]:
    """pca_gram_sql's rows (i, p, s, k), summed in Python."""
    sums: dict = {}
    for e in vecs.tolist():  # float32 → exact doubles
        for i, ei in enumerate(e):
            for p, x in enumerate([1.0] + e[i:]):
                sums[i, p] = sums.get((i, p), 0) + math.floor((ei * x) * _FIX)
    return [(i, p, s, len(vecs)) for (i, p), s in sums.items()]


def test_driver_power_iteration_matches_duckdb_bit_for_bit():
    for seed in (3, 17):
        vecs = _cloud(seed)
        emb = pa.table({
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        })
        con = duckdb.connect()
        try:
            con.register("emb", emb)
            want = con.execute(pca_power_sql("emb", dim=DIM)).fetchall()
        finally:
            con.close()
        got = pca_power(_gram_rows(vecs))
        assert len(got) == DIM
        assert got == want, seed
        # the dominant axis is found: dimension 0 carries the most variance
        assert max(range(DIM), key=lambda i: abs(got[i][2])) == 0
