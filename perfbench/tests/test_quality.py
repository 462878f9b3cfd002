"""Pair recall/precision arithmetic and the seeded generator."""

import numpy as np

import gen
from workloads import pair_quality


def test_pair_quality_perfect_and_split():
    fam = np.array([0, 0, 0, -1, 1, 1])
    assert pair_quality(fam, np.array([7, 7, 7, 3, 4, 4])) == (1.0, 1.0)
    # family 0 split 2+1: 1 of its 3 pairs found; family 1 intact
    r, p = pair_quality(fam, np.array([7, 7, 9, 3, 4, 4]))
    assert (r, p) == (2 / 4, 1.0)
    # singleton merged into family 1's cluster: two wrong pairs predicted
    r, p = pair_quality(fam, np.array([7, 7, 7, 4, 4, 4]))
    assert (r, p) == (1.0, 4 / 6)


def test_generator_is_seeded(tmp_path):
    a, fa = gen.gen_transcripts(5, 200, 8)
    b, fb = gen.gen_transcripts(5, 200, 8)
    c, _ = gen.gen_transcripts(6, 200, 8)
    assert gen.content_hash(a) == gen.content_hash(b)
    assert (fa == fb).all()
    assert gen.content_hash(a) != gen.content_hash(c)
    d, meta = gen.ensure("clips_payload", 3, "tiny", str(tmp_path))
    assert gen.verify(d, meta) == []
    assert meta["inputs"]["clips"]["rows"] == gen.SIZES["tiny"]["clips_payload"]["n"]
