import numpy as np

from kgbench import inputs


def test_zipf_sources_deterministic_per_seed():
    a = inputs.zipf_sources(5000, 400, 1.1, seed=7)
    b = inputs.zipf_sources(5000, 400, 1.1, seed=7)
    c = inputs.zipf_sources(5000, 400, 1.1, seed=8)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    assert a.min() >= 0 and a.max() < 400


def test_zipf_sources_are_skewed():
    src = inputs.zipf_sources(48_000, 12_000, 1.1, seed=3)
    counts = np.bincount(src, minlength=12_000)
    # rank-1 share of Zipf(1.1) over 12k ranks is ~15%: ~7k of 48k copies
    assert 6_000 < counts.max() < 8_500
    assert (counts > 0).sum() < 12_000


def test_person_of_planted_pairs():
    assert inputs.person_of(6) == 5
    assert inputs.person_of(13) == 12
    assert inputs.person_of(5) == 5
    assert inputs.person_of(0) == 0


def test_golden_frames_relabel_copies():
    sources = np.array([3, 3, 6, 5])
    golden, persons = inputs.golden_frames(sources, seed=1)
    first = golden[golden.conv_id == "conv_000000"][["pred", "obj"]]
    second = golden[golden.conv_id == "conv_000001"][["pred", "obj"]]
    assert len(first) > 10
    assert first.reset_index(drop=True).equals(second.reset_index(drop=True))
    assert persons.person.tolist() == [3, 3, 5, 5]
