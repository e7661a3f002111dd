"""Quality floors for the curation/selection family (VERDICT r5 #6 /
r6 #9), measured against exact ground truth via the helpers in
scripts/curation_quality.py — the same pin-the-measured-floor
discipline tests/test_ann_recall.py applies to the ANN family.

Every assignment in these measurements runs through
operators/clustering.assign_nearest (the map-side argmin installed in
r6/r7 for SemDedup, Lloyd training, PQ encode and IVF probe), so a
correctness regression in that refactor craters these floors — they
double as an end-to-end regression proof, complementing the
plan-shape pins in scripts/plan_ledger.json.

Floors sit ~0.05-0.1 under the sf0.001 measured values (deterministic
data, no sampling noise): semdedup 0.988/1.0, kcenter 0.328 vs 0.352,
PQ recon 0.898(k=4)/0.828(k=8), recall 0.18/0.216.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scripts.curation_quality import (  # noqa: E402
    kcenter_radius_vs_baseline,
    pq_quality,
    semdedup_pair_recall,
)


def test_semdedup_cell_recall_floor_and_multiprobe_gain(spark, sf_dir):
    sd = semdedup_pair_recall(spark, sf_dir, probes_list=(1, 2))
    single = sd[1][2]
    multi = sd[2][2]
    # the paper's caveat: single-probe loses only Voronoi-edge pairs
    assert single >= 0.9, sd
    # multi-probe exists to recover those; it must not lose ground
    assert multi >= single, sd
    assert multi >= 0.99, sd


def test_kcenter_covers_tighter_than_baseline(spark, sf_dir):
    greedy, baseline = kcenter_radius_vs_baseline(spark, sf_dir)
    # Gonzalez greedy is a 2-approximation of the optimal radius; an
    # id-spread (effectively random) pick has no such guarantee and
    # measures looser on this corpus
    assert greedy < baseline, (greedy, baseline)


def test_pq_distortion_and_recall_move_with_codebook_size(spark, sf_dir):
    recon4, recall4 = pq_quality(spark, sf_dir, k=4)
    recon8, recall8 = pq_quality(spark, sf_dir, k=8)
    # more codewords => strictly lower quantization distortion
    assert recon8 < recon4, (recon8, recon4)
    # and at least as good ADC retrieval (isotropic corpus: absolute
    # recall is structurally low, the TREND is the invariant)
    assert recall8 >= recall4, (recall8, recall4)
    # sanity floor well under the measured 0.18
    assert recall4 >= 0.1, recall4


def test_dsir_shifts_sample_toward_target(spark, sf_dir):
    from scripts.curation_quality import dsir_target_shift

    ds = dsir_target_shift(spark, sf_dir)
    # selected docs maximize the importance weight, so their mean must
    # beat an equal-size hash-random pick (Gumbel noise is O(1) vs the
    # multi-nat logw spread)
    assert ds["lw_sel"] > ds["lw_base"], ds
    # and the distributional claim: the resample's hashed-bigram
    # distribution sits closer to the target model than random raw
    # data (measured 0.053 vs 0.098 at sf0.01; floor at parity)
    assert ds["tv_sel"] < ds["tv_base"], ds
