"""Property tests pinning the driver-solve discipline (VERDICT r13 #9):
every family that collects a sufficient statistic and walks the fixed
point in the driver must collect a PARAMETER-BOUNDED number of rows —
states², slate², k·dim, domain buckets — never a corpus-sized frame.
Each test intercepts the Arrow collect behind
``sources.driver.collect_bounded`` during query construction and asserts
the observed row counts stay within the family's formula at two data
scales (sf0.001 and sf0.01, 10× the rows), so a future refactor that
silently widens a collect fails here before it OOMs a driver."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

# Spark 4: classic sessions instantiate the classic DataFrame subclass,
# which OVERRIDES toArrow — patch the concrete class, not the base
from pyspark.sql.classic.dataframe import DataFrame

import apache_beam_challange_spark.plans.wave4 as w4
import apache_beam_challange_spark.plans.wave6 as w6
from conftest import TESTDATA_ROOT

SF_SMALL = os.path.join(TESTDATA_ROOT, "sf0.001")
SF_BIG = os.path.join(TESTDATA_ROOT, "sf0.01")


@pytest.fixture()
def collect_sizes(monkeypatch):
    """Record the row count of every Arrow collect in the block."""
    sizes: list[int] = []
    orig = DataFrame.toArrow

    def wrapper(self):
        table = orig(self)
        sizes.append(table.num_rows)
        return table

    monkeypatch.setattr(DataFrame, "toArrow", wrapper)
    return sizes


def _n_types(spark, sf_dir: str) -> int:
    from apache_beam_challange_spark.sources.catalog import load_table

    return (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .count()
    )


def _max_collect(spark, sizes, fn, sf_dir: str) -> int:
    sizes.clear()
    fn(spark, sf_dir)  # build only — the solver collects during build
    assert sizes, f"{fn.__name__} no longer collects driver-solve state"
    return max(sizes)


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_markov_solvers_collect_states_squared(spark, collect_sizes, sf_dir):
    s = _n_types(spark, sf_dir)
    bound = (s + 2) ** 2  # states = event types + CONV + NULL
    got = _max_collect(
        spark, collect_sizes, w6.markov_removal_attribution, sf_dir
    )
    assert got <= bound, f"markov_removal collected {got} > {bound}"
    got = _max_collect(spark, collect_sizes, w6.markov_entropy_rate, sf_dir)
    assert got <= bound, f"markov_entropy collected {got} > {bound}"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_ipf_collects_types_by_hours(spark, collect_sizes, sf_dir):
    s = _n_types(spark, sf_dir)
    got = _max_collect(spark, collect_sizes, w6.ipf_raking_type_hour, sf_dir)
    assert got <= s * 24, f"ipf collected {got} > {s * 24}"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_fs_em_collects_bounded_patterns(spark, collect_sizes, sf_dir):
    got = _max_collect(
        spark, collect_sizes, w6.fs_em_parameter_estimation, sf_dir
    )
    assert got <= 16, f"fs_em collected {got} > 16 patterns"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_platt_collects_bounded_bins(spark, collect_sizes, sf_dir):
    got = _max_collect(
        spark, collect_sizes, w6.platt_scaling_value_purchase, sf_dir
    )
    assert got <= 21, f"platt collected {got} > 21 bins"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_bradley_terry_collects_slate_squared(spark, collect_sizes, sf_dir):
    bound = w4._BT_SLATE * (w4._BT_SLATE - 1)
    got = _max_collect(
        spark, collect_sizes, w4.bradley_terry_part_prefs, sf_dir
    )
    assert got <= bound, f"bradley_terry collected {got} > {bound}"


@pytest.mark.parametrize("m", [1, 4])
@pytest.mark.parametrize("n_vecs", [64, 256])
def test_kmeans_collects_k_dim_per_round(spark, collect_sizes, n_vecs, m):
    """Plain k-means (m = 1) and PQ (m = 4 subspace codebooks) train in
    one Lloyd loop: exactly one collect per round whatever m is, each
    bounded by k*dim rows."""
    from apache_beam_challange_spark.operators.clustering import (
        train_codebooks,
    )

    k, dim, n_iter = 4, 8, 2
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.lit("x").alias("label"),
        F.array(
            *[
                (F.col("id") * (i + 1) % 17).cast("double")
                for i in range(dim)
            ]
        ).alias("embedding"),
    )
    collect_sizes.clear()
    train_codebooks(vecs, m, k, n_iter, 10_000, dim)
    assert len(collect_sizes) == n_iter
    assert all(s <= k * dim for s in collect_sizes), (
        f"codebook round state {collect_sizes} exceeds k*dim={k * dim}"
    )


def test_huber_collect_is_capped(spark, collect_sizes):
    """The huber driver solve's collect is bounded by the CAP itself
    (limit(cap+1)) — even a pathologically wide value domain cannot pull
    more than cap+1 rows into the driver."""
    w6.huber_location_by_type(spark, SF_BIG)
    assert collect_sizes and max(collect_sizes) <= w6._DOMAIN_CAP + 1


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_pca_gram_collect_is_upper_triangle(spark, collect_sizes, sf_dir):
    from apache_beam_challange_spark.plans.linalg import (
        _DIM,
        pca_power_iteration_top_component,
    )

    bound = _DIM * (_DIM + 1) // 2  # 2,080 at 64 dims
    got = _max_collect(
        spark, collect_sizes, pca_power_iteration_top_component, sf_dir
    )
    assert got <= bound, f"pca Gram collected {got} > {bound}"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_mmr_collects_candidates_and_pairs(spark, collect_sizes, sf_dir):
    from apache_beam_challange_spark.plans.traindata import (
        mmr_diversified_topk_vec0,
    )

    collect_sizes.clear()
    mmr_diversified_topk_vec0(spark, sf_dir)
    k_cand = 50
    assert len(collect_sizes) == 2, collect_sizes
    rel, sims = collect_sizes
    assert rel <= k_cand, f"mmr candidates {rel} > {k_cand}"
    assert sims <= k_cand * (k_cand - 1), f"mmr sims {sims} > 2,450"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_opq_collects_one_key_per_dim(spark, collect_sizes, sf_dir):
    """The allocation collects one variance key per dimension; the PQ
    training after it collects one k*dim codebook state per round for all
    subspaces together (4 centroids x 64 dims)."""
    from apache_beam_challange_spark.plans.extensions import opq_topk_vec0

    _max_collect(spark, collect_sizes, opq_topk_vec0, sf_dir)
    keys, *rounds = collect_sizes
    assert keys <= 64, f"opq variance keys {keys} > 64 dims"
    assert len(rounds) == 1 and rounds[0] <= 4 * 64, rounds


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_BIG])
def test_hnsw_entry_stats_collect_one_row_per_level(spark, collect_sizes, sf_dir):
    """HNSW's entry rule reads one stats row per capped level (min
    non-query vec_id and the queries on it) — never a row per vector."""
    from apache_beam_challange_spark.operators.similarity import HNSW_MAX_LEVEL
    from apache_beam_challange_spark.plans.wave8 import hnsw_knn_join_vec10

    got = _max_collect(spark, collect_sizes, hnsw_knn_join_vec10, sf_dir)
    assert got <= HNSW_MAX_LEVEL + 1, f"hnsw entry stats {got} > levels"
