"""Core counts come from the host: the session default is the CPUs the
process may use, scaling_bench's 4N leg must fit them, and its in-leg
sidecar probe must never share a CPU with a measured leg."""

from __future__ import annotations

import os

import pytest

from osm_pt_validator_spark.session import default_cores
from scaling_bench import sidecar_cores


def test_default_cores_is_the_affinity_unless_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3


def test_sidecar_takes_the_two_highest_free_cpus():
    assert sidecar_cores(8, set(range(32))) == (30, 31)
    assert sidecar_cores(4, set(range(8))) == (6, 7)
    assert sidecar_cores(2, {0, 1, 5, 9, 12}) == (9, 12)


def test_no_sidecar_when_fewer_than_two_cpus_are_free():
    assert sidecar_cores(4, set(range(4))) is None
    assert sidecar_cores(4, set(range(5))) is None


def test_4n_leg_beyond_the_usable_cpus_is_an_error():
    # Linux accepts a 0-7 mask on a 4-CPU host and keeps {0,1,2,3}: the
    # "8-core" leg would silently run on 4 CPUs
    with pytest.raises(ValueError, match="0-7"):
        sidecar_cores(8, set(range(4)))
    with pytest.raises(ValueError):
        sidecar_cores(4, {1, 2, 3, 4, 5, 6})
