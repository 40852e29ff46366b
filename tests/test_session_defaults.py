"""``session.get_spark``'s local defaults: one task slot per core the
process may run on unless ``SPARK_GRAFT_CPUS`` says otherwise, and a
shuffle width of twice the master's cores. Pure functions, so no second
session is started."""

from __future__ import annotations

import os

import pytest

from harvesting_validator_spark.session import (
    _default_cores,
    _default_shuffle_partitions,
)


@pytest.mark.parametrize("env,want", [(None, 3), ("", 3), ("6", 6)])
def test_default_cores(monkeypatch, env, want):
    # unset or empty: the cores in the process's affinity mask
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert _default_cores() == want


def test_default_shuffle_partitions():
    assert _default_shuffle_partitions("local[4]", 3) == 8
    assert _default_shuffle_partitions("local[*]", 3) == 6
    # a master without a core count sizes by the derived cores, not 32
    assert _default_shuffle_partitions("yarn", 3) == 6
