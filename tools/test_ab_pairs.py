#!/usr/bin/env python3
"""Tests for tools/ab_pairs.py's verdict and its failure counts.

A gain is judged against every pair run: a pair in which either side
crashed counts as not won. A change that crashes more runs, fails more
operations or gives more wrong answers than the parent is never a gain.

Run: python3 tools/test_ab_pairs.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab_pairs import faults, verdict  # noqa: E402

PAR = [1.00, 1.01, 1.02, 0.99, 1.00, 1.01, 0.98, 1.02, 1.00, 0.99]
FAST = [0.80] * 10
CLEAN = (0, 0, 0)


def run(side, failed=0, correct=True, crashed=False):
    if crashed:
        return {"side": side, "error": "boom", "returncode": 1}
    return {"side": side, "metrics": {}, "failed": failed, "correct": correct}


def test_faults_counts_crashes_failed_ops_and_wrong_answers():
    runs = [run("change"), run("change", crashed=True),
            run("change", failed=3), run("change", correct=False),
            run("parent", failed=1)]
    assert faults(runs, "change") == (1, 3, 1)
    assert faults(runs, "parent") == (0, 1, 0)
    assert faults(runs, "parent_copy") == (0, 0, 0)


def test_clean_change_that_wins_every_pair_is_a_gain():
    assert verdict(PAR, FAST, True, 0.25, 10, 10, CLEAN, CLEAN) == "gain"


def test_crashed_pairs_count_as_not_won():
    # 3 of 10 pairs crashed on the change side and it won the other 7:
    # 7/10 is short of 9/10, and the crashes alone rule out a gain
    assert verdict(PAR, FAST[:7], True, 0.25, 7, 10, CLEAN,
                   (3, 0, 0)) == "worse (failures)"
    # a parent crash also removes the pair from the wins
    assert verdict(PAR[:7], FAST, True, 0.25, 7, 10, (3, 0, 0),
                   CLEAN) != "gain"


def test_more_failed_operations_or_wrong_answers_is_never_a_gain():
    assert verdict(PAR, FAST, True, 0.25, 10, 10, CLEAN,
                   (0, 1, 0)) == "worse (failures)"
    assert verdict(PAR, FAST, True, 0.25, 10, 10, CLEAN,
                   (0, 0, 1)) == "worse (failures)"
    # as many failures as the parent is not held against the change
    assert verdict(PAR, FAST, True, 0.25, 10, 10, (0, 2, 1),
                   (0, 2, 1)) == "gain"


def test_median_gap_must_exceed_the_parent_iqr():
    close = [x - 0.005 for x in PAR]
    assert verdict(PAR, close, True, 0.25, 10, 10, CLEAN,
                   CLEAN) == "within bound"


def test_higher_is_better_metric():
    par = [100.0] * 10
    assert verdict(par, [120.0] * 10, False, 0.25, 10, 10, CLEAN,
                   CLEAN) == "gain"
    assert verdict(par, [70.0] * 10, False, 0.25, 0, 10, CLEAN,
                   CLEAN) == "worse"


if __name__ == "__main__":
    for fn in [test_faults_counts_crashes_failed_ops_and_wrong_answers,
               test_clean_change_that_wins_every_pair_is_a_gain,
               test_crashed_pairs_count_as_not_won,
               test_more_failed_operations_or_wrong_answers_is_never_a_gain,
               test_median_gap_must_exceed_the_parent_iqr,
               test_higher_is_better_metric]:
        fn()
        print(f"ok {fn.__name__}")
    print("all green")
