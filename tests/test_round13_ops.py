"""Round-13 pins: exact PCA covariance partials and projection
invariants, the chained-index fold paths, the kNN multiprobe recall
gate and the half-up rounding face.
"""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from dfx_indicators_etl_spark.sources.readers import read_table


def test_pca_cov_partials_partition_independent(spark, sf_dir):
    # Integer sums are associative — the exact partials must be
    # BIT-identical under any input partitioning (the float64
    # partials emb_pca folds are not, which is why this face exists).
    from dfx_indicators_etl_spark.operators import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    a = {
        (r["i"], r["j"]): r["s"]
        for r in similarity.pca_cov_partials_exact(
            emb.repartition(1)
        ).collect()
    }
    b = {
        (r["i"], r["j"]): r["s"]
        for r in similarity.pca_cov_partials_exact(
            emb.repartition(13)
        ).collect()
    }
    assert a == b
    d = 64
    assert len(a) == d * (d + 1) // 2 + d + 1
    assert a[(-1, -1)] == emb.count()


def test_pca_projection_invariants(spark, sf_dir):
    # Sign/order-immune projection pins (VERDICT r12 #4): explained
    # variance per component matches the numpy eigenvalues, and the
    # out_dim=d projection is an isometry (pairwise distances
    # preserved to 6dp) — true regardless of eigenvector sign flips
    # or within-tie ordering.
    import numpy as np

    from dfx_indicators_etl_spark.operators import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    proj = {
        r["vec_id"]: np.array(r["projected"], dtype=np.float64)
        for r in similarity.pca_project(
            emb, out_dim=mat.shape[1]
        ).collect()
    }
    p = np.array([proj[r["vec_id"]] for r in rows])
    # per-component variance == eigenvalues, descending
    vals = np.sort(np.linalg.eigh(np.cov(mat, rowvar=False))[0])[::-1]
    got_var = p.var(axis=0, ddof=1)
    assert np.allclose(got_var, vals, atol=1e-4)
    assert (np.diff(got_var) <= 1e-9).all()  # decreasing
    # full-rank rotation preserves pairwise distances
    rng = np.random.RandomState(0)
    idx = rng.choice(len(mat), size=(50, 2))
    d_orig = np.linalg.norm(mat[idx[:, 0]] - mat[idx[:, 1]], axis=1)
    d_proj = np.linalg.norm(p[idx[:, 0]] - p[idx[:, 1]], axis=1)
    assert np.allclose(d_orig, d_proj, atol=1e-5)


@pytest.mark.parametrize(
    "key",
    [
        "ind_chained_index",
        "ind_fisher_chained",
        "ind_chained_index_monthly",
    ],
)
def test_chain_fold_paths_bit_identical(spark, sf_dir, key, monkeypatch):
    # Adaptive long-chain swap (VERDICT r12 #5): the driver-side
    # decimal fold (threshold 0) and the recursive CTE (threshold ∞)
    # must agree bit-for-bit on the real links — the fold uses the
    # same IEEE multiply + HALF_UP 6dp round Spark's Round applies.
    from dfx_indicators_etl_spark.plans import QUERIES
    from dfx_indicators_etl_spark.plans import indicator_queries as iq

    monkeypatch.setattr(iq, "CHAIN_CTE_MAX_STEPS", 10**9)
    cte = sorted(map(tuple, QUERIES[key](spark, sf_dir).collect()))
    monkeypatch.setattr(iq, "CHAIN_CTE_MAX_STEPS", 0)
    fold = sorted(map(tuple, QUERIES[key](spark, sf_dir).collect()))
    assert cte == fold
    assert len(cte) >= 2


def test_chain_fold_stops_at_calendar_gap():
    # The CTE's l.comp_year = c.yr + 1 join ends the recursion at a
    # gap year; the driver fold must stop identically, not skip over.
    from dfx_indicators_etl_spark.plans.indicator_queries import (
        _chain_fold_rows,
    )

    rows = [
        {"comp_year": 2001, "link": 1.02},
        {"comp_year": 2002, "link": 0.99},
        {"comp_year": 2004, "link": 1.50},  # 2003 missing — unreachable
    ]
    out = _chain_fold_rows(rows, ["link"])
    assert [r[0] for r in out] == [2000, 2001, 2002]
    assert out[1][1] == 102.0 and out[2][1] == 100.98
    assert _chain_fold_rows([], ["link"]) == [(None, 100.0)]


def _synth_vectors(spark, n: int):
    """Deterministic pseudo-random 64-d vectors in [-1, 1), built
    JVM-side (xxhash-seeded components, so random cosines concentrate
    near 0)."""
    cols = [
        (
            F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(10_000)).cast(
                "double"
            )
            / 5_000.0
            - 1.0
        ).cast("float")
        for j in range(64)
    ]
    return (
        spark.range(0, n, 1, 32)
        .select(F.col("id").alias("vec_id"), F.array(*cols).alias("embedding"))
        .localCheckpoint(eager=True)
    )


def test_knn_multiprobe_recall_gate_boundary_shape(spark):
    # VERDICT r12 #6: the kNN banded route's recall at the LOW-cosine
    # tail (random corpus — top-k neighbors sit at the LSH boundary).
    # SCALE.md §kNN multi-probe showed one probe at L=24 beats
    # DOUBLING L at the same bucket-state volume; this pins the small
    # deterministic replica of that curve (xxhash64-synth corpus,
    # n=3000, planes=4: measured p0=0.9536, p1=0.9963, p2=0.9995).
    from dfx_indicators_etl_spark.operators import similarity as S

    n = 3000
    df = _synth_vectors(spark, n)
    exact = {
        (r["src"], r["dst"])
        for r in S.knn_graph_exact(df, k=5, mutual=False).collect()
    }
    recall = {}
    for p in (0, 1):
        got = {
            (r["src"], r["dst"])
            for r in S.knn_graph_banded(
                df,
                k=5,
                mutual=False,
                n_rows=n,
                planes_per_table=4,
                extra_probes=p,
            ).collect()
        }
        recall[p] = len(got & exact) / len(exact)
    assert recall[0] >= 0.90, recall
    assert recall[1] >= 0.99, recall
    assert recall[1] > recall[0], recall


def test_round6_half_up_matches_spark_round_adversarially(spark):
    # The fold's one risky claim: Decimal(repr(x)).quantize(1e-6,
    # HALF_UP) == Spark Round(x, 6) for every double. Batch-evaluate
    # Spark's round over adversarial inputs — exact 6dp half-way
    # points, near-half ulp neighbors, tiny/huge magnitudes,
    # negatives — and compare bit-for-bit.
    import math

    from dfx_indicators_etl_spark.plans.indicator_queries import (
        _round6_half_up,
    )

    xs = []
    for base in (0.0, 1.0, 123.456789, 99.9999995, 1e-7, 5e-7):
        for sign in (1.0, -1.0):
            xs.append(sign * base)
    # exact decimal halves at scale 7 (the HALF_UP boundary at 6dp)
    xs += [i * 5e-7 for i in range(1, 40, 2)]
    xs += [-i * 5e-7 for i in range(1, 40, 2)]
    # ulp neighbors of a half-way point
    h = 2.5e-6
    xs += [math.nextafter(h, 0.0), h, math.nextafter(h, 1.0)]
    # magnitudes past float 6dp resolution and past the default
    # Decimal context (the prec-400 fix)
    xs += [1e10 + 0.1234565, 1e16, 1e22, 1.5e25, 4.9e-324, 1.7e308]
    # chain-realistic values
    xs += [100.0 * (1.0 + k / 1000.0) ** j for k, j in ((7, 3), (-3, 5))]

    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = {
        r["x"]: r["r"]
        for r in df.select("x", F.round("x", 6).alias("r")).collect()
    }
    for x in xs:
        assert got[x] == _round6_half_up(x), (
            x,
            got[x],
            _round6_half_up(x),
        )
