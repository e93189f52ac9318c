"""Sampled-training premise for the round-5 IVF/PQ oracle switch.

The registered IVF/PQ queries train their k-means stages on the FULL
corpus (their DuckDB oracles unroll exactly that computation) — correct,
but the 20k-vector ANN ladder probe showed training dominating the
wall-clock (BASELINE.md round 4, note 3). The 100 TB shape trains on a
deterministic sample (faiss trains on ~100k vectors regardless of corpus
size) and only the final assignment scans the corpus.

These tests pin the QUALITY premise of that switch before the oracles
move: coarse lists trained on a 25% md5 sample must retrieve essentially
as well as full-corpus training. The sample is content-addressed
(md5(vec_id)), so the round-5 oracle can reproduce it with a WHERE
clause.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"
TOPK = 5


@pytest.fixture(scope="module")
def recalls(spark):
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans.similarity import (
        ann_topk_bruteforce,
    )
    from datalakes_and_data_integration_spark.plans.similarity_extra import (
        _coarse_cents,
        _coarse_lists,
        _exact_rerank,
        _unit_vectors,
    )

    exact = {
        (r.vec_id, r.neighbor_id)
        for r in ann_topk_bruteforce(spark, SF).collect()
    }

    unit = _unit_vectors(spark, SF).persist()
    sample = unit.filter(
        F.md5(F.col("vec_id").cast("string")) < "4"  # 16ths: 4/16 = 25%
    )

    def ivf_pairs(train):
        lists = _coarse_lists(
            unit, _coarse_cents(unit if train is None else train)
        )
        qside = lists.select(
            F.col("vec_id").alias("q_id"),
            F.explode("probe_lists").alias("cluster"),
        )
        nside = lists.select(
            F.col("vec_id").alias("n_id"),
            F.explode("rep_lists").alias("cluster"),
        )
        cand = (
            qside.join(nside, "cluster")
            .filter(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id")
            .distinct()
        )
        top = _exact_rerank(unit, cand, TOPK)
        qc = "q_id" if "q_id" in top.columns else "vec_id"
        nc = "n_id" if "n_id" in top.columns else "neighbor_id"
        return {(r[qc], r[nc]) for r in top.select(qc, nc).collect()}

    full = ivf_pairs(None)
    sampled = ivf_pairs(sample)
    n_sample = sample.count()
    unit.unpersist()
    rec_full = len(full & exact) / len(exact)
    rec_sampled = len(sampled & exact) / len(exact)
    return n_sample, rec_full, rec_sampled


def test_sample_is_a_real_subset(recalls):
    n_sample, _, _ = recalls
    # 500 vectors at sf0.01; the md5 < "4" predicate takes hex digits
    # 0-3, an expected 25%.
    assert 75 <= n_sample <= 175


def test_full_training_recall_baseline(recalls):
    _, rec_full, _ = recalls
    assert rec_full >= 0.85


def test_sampled_training_recall_holds(recalls):
    _, rec_full, rec_sampled = recalls
    # The premise for round 5: training on 25% of the corpus costs at
    # most a few recall points versus full-corpus training.
    assert rec_sampled >= rec_full - 0.05, (
        f"sampled-training recall {rec_sampled:.3f} fell more than 0.05 "
        f"below full-training recall {rec_full:.3f}"
    )
