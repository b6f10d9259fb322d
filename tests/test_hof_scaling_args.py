"""benchkit/hof_scaling.py argument validation: a best-of-N timing loop
needs N >= 1, so ``--trials 0`` is refused up front instead of failing
after the Spark session started."""

from __future__ import annotations

import pytest

from benchkit.hof_scaling import parse_args


def test_trials_zero_is_refused():
    with pytest.raises(SystemExit):
        parse_args(["--trials", "0"])


def test_trials_default_and_explicit():
    assert parse_args([]).trials == 3
    assert parse_args(["--trials", "1", "--rows", "10", "--cpus", "2"]).trials == 1
