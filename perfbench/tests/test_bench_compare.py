"""The compare mode's verdict rule."""

from compare import verdict

PARENT = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]


def test_improved_needs_nine_in_ten_wins_beyond_the_spread():
    change = [x * 0.9 for x in PARENT]
    assert verdict(PARENT, change, list(zip(PARENT, change)), True, 0.25)[0] == "improved"
    # wins every pair, but by less than the parent's interquartile distance
    change = [x - 0.001 for x in PARENT]
    v, share = verdict(PARENT, change, list(zip(PARENT, change)), True, 0.25)
    assert (v, share) == ("unchanged", 1.0)


def test_worse_beyond_the_bound_and_direction_of_better():
    slower = [x * 1.3 for x in PARENT]
    assert verdict(PARENT, slower, list(zip(PARENT, slower)), True, 0.25)[0] == "worse"
    # the same numbers read as a throughput are an improvement
    assert verdict(PARENT, slower, list(zip(PARENT, slower)), False, 0.25)[0] == "improved"


def test_unresolved_when_the_parent_spreads_wider_than_the_bound():
    noisy = [0.5, 1.5, 0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 0.9, 1.1]
    change = [x * 1.05 for x in noisy]
    assert verdict(noisy, change, list(zip(noisy, change)), True, 0.25)[0] == "unresolved"
