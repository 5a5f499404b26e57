import numpy as np
import pandas as pd

from kgbench import checks, inputs


def _result(sources, seed=1):
    """A correct pipeline result for the corpus: the goldens, with one subj
    per planted person."""
    golden, persons = inputs.golden_frames(np.array(sources), seed)
    out = golden.merge(persons, on="conv_id")
    out["subj"] = "ent:" + out["person"].astype(str)
    return out.drop(columns="person"), golden, persons


def test_correct_result_passes():
    result, golden, persons = _result(range(14))
    p, r, fp, problems = checks.check_result(result, golden, persons)
    assert (p, r, problems) == (1.0, 1.0, [])
    assert checks.check_result(result, golden, persons, fp)[3] == []


def test_wrong_objects_fail_precision_and_recall():
    result, golden, persons = _result(range(14))
    bad = result.copy()
    bad.loc[bad.index[::10], "obj"] = "CORRUPTED"
    p, r, _fp, problems = checks.check_result(bad, golden, persons)
    assert p < checks.MIN_PR and r < checks.MIN_PR
    assert any("precision" in m for m in problems)


def test_torn_planted_pair_fails():
    result, golden, persons = _result(range(14))
    bad = result.copy()
    bad.loc[bad.conv_id == "conv_000006", "subj"] = "ent:other"
    problems = checks.check_result(bad, golden, persons)[3]
    assert any("planted persons" in m for m in problems)


def test_torn_zipf_copy_fails():
    result, golden, persons = _result([4, 4, 4, 9])
    bad = result.copy()
    bad.loc[bad.conv_id == "conv_000002", "subj"] = "ent:elsewhere"
    problems = checks.check_result(bad, golden, persons)[3]
    assert any("planted persons" in m for m in problems)


def test_conversation_with_two_subjects_fails():
    result, golden, persons = _result(range(3))
    bad = result.copy()
    rows = bad.index[bad.conv_id == "conv_000001"]
    bad.loc[rows[0], "subj"] = "ent:split"
    problems = checks.subject_problems(bad, persons)
    assert any("several subj" in m for m in problems)


def test_fingerprint_is_order_independent_and_content_sensitive():
    result, _golden, _persons = _result(range(5))
    shuffled = result.sample(frac=1.0, random_state=3)
    assert checks.fingerprint(result) == checks.fingerprint(shuffled)
    changed = result.copy()
    changed.loc[changed.index[0], "subj"] = "ent:x"
    assert checks.fingerprint(changed) != checks.fingerprint(result)
    problems = checks.check_result(changed, _golden, _persons,
                                   checks.fingerprint(result))[3]
    assert any("fingerprint" in m for m in problems)


def test_same_rows_is_multiset_equality():
    result, _g, _p = _result(range(4))
    assert checks.same_rows(result, result.sample(frac=1.0, random_state=1))
    assert not checks.same_rows(result, result.iloc[1:])
    dup = pd.concat([result.iloc[:1], result.iloc[2:], result.iloc[:1]])
    assert not checks.same_rows(result, dup)
