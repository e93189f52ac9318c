"""The vectorized ANN scan kernels (round 7) have two regimes: one
corpus chunk (shortlist cut + margin-guarded exact re-rank entirely
in-kernel) and multiple chunks (per-chunk shortlist rows with int64 ADC
scores, exact global cut + re-rank in Spark — a per-chunk global cut
would be wrong for the shortlist families, see the section comment in
plans/similarity_extra.py). Every gate scale runs single-chunk, so the
multi-chunk path is pinned here by forcing a tiny chunk size and
asserting row-identical results against the single-chunk plan."""

from __future__ import annotations

import pytest

import datalakes_and_data_integration_spark.plans.similarity as sim
import datalakes_and_data_integration_spark.plans.similarity_extra as se

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "query,module",
    [
        # flat-PQ: _mk_adc_scan unmasked + multi-chunk Spark shortlist cut
        ("ann_topk_pq", se),
        # IVFADC: _mk_adc_scan masked + multi-chunk Spark shortlist cut
        ("ann_topk_ivfadc", se),
        # residual: _mk_res_scan + multi-chunk Spark shortlist cut
        ("ann_topk_ivfadc_residual", se),
        # IVF: margin-only kernel (no shortlist), chunked union re-rank
        ("ann_topk_ivf", sim),
    ],
)
def test_chunked_scan_matches_single_chunk(spark, monkeypatch, query, module):
    fn = getattr(module, query)
    base = _rows(fn(spark, SF))
    assert len(base) > 0
    # Force >= 3 chunks at the ~500-vector sf0.001 corpus; every kernel
    # chunks through the one scan-core constant.
    monkeypatch.setattr(sim, "_CORPUS_CHUNK_ROWS", 200)
    chunked = _rows(fn(spark, SF))
    assert chunked == base
