"""The session's default driver heap follows the machine's memory."""

from __future__ import annotations

import pytest

from psql_streamer_spark import session

GiB = 1 << 30


@pytest.mark.parametrize(
    "physical, cgroup_max, want",
    [
        (int(15.7 * GiB), None, "8038m"),  # half the box, not 32g
        (128 * GiB, None, "32g"),  # large machine: the 32g cap
        (64 * GiB, None, "32g"),  # half is exactly the cap
        (128 * GiB, 4 * GiB, "2048m"),  # the cgroup limit caps the box
        (8 * GiB, 16 * GiB, "4096m"),  # a limit above the box changes nothing
        (None, None, "32g"),  # unknown sizes keep the old default
        (None, 6 * GiB, "3072m"),
    ],
)
def test_driver_memory_is_half_the_usable_memory_capped_at_32g(
    physical, cgroup_max, want
):
    assert session._driver_memory(physical, cgroup_max) == want


def test_default_driver_memory_reads_this_machine():
    got = session._default_driver_memory()
    assert got == "32g" or (got.endswith("m") and int(got[:-1]) > 0)
