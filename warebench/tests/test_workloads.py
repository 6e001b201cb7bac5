"""The pattern of traced and untraced legs in a traced run."""

import workloads


def test_traced_legs_mirror_about_the_middle():
    assert [workloads.traced_leg(i, 3) for i in range(3)] == [True, False, True]
    legs = [workloads.traced_leg(i, 20) for i in range(20)]
    assert legs == legs[::-1] and sum(legs) == 10
    traced = [i for i, t in enumerate(legs) if t]
    untraced = [i for i, t in enumerate(legs) if not t]
    assert sum(traced) / 10 == sum(untraced) / 10  # same mean position
