"""Fixture-scale rot-guard for the scale verifier
(scripts/funnel_invariants_scale.py): the five closure-free cluster
invariants must hold at sf0.001 through the SAME importable function
the 64x/256x measurements run, and the stage chain is the corpus
pipeline's own stage list — so neither the script nor the invariants
can silently drift from the funnel they certify."""

import sys
from pathlib import Path

from conftest import SF_SMALL

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))


def test_cluster_invariants_hold_at_fixture_scale(spark):
    from funnel_invariants_scale import compute_invariants

    out = compute_invariants(spark, SF_SMALL)
    assert out["all_ok"], out
    # the fixture genuinely exercises the stage: some docs are dropped
    assert out["dropped"] > 0, out
    assert out["I3_edge_closure"]["edges"] > 0, out
