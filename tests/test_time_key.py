"""Command-line parsing of scripts/time_key.py (no Spark needed)."""

from __future__ import annotations

import importlib.util
import os

import pytest


def _load():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "time_key", os.path.join(here, "scripts", "time_key.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def parse_args():
    return _load().parse_args


def test_reps_forms(parse_args):
    assert parse_args(["a", "b"]) == (["a", "b"], 5)
    assert parse_args(["a", "--reps", "3", "b"]) == (["a", "b"], 3)
    assert parse_args(["--reps=7", "a"]) == (["a"], 7)


@pytest.mark.parametrize(
    "argv",
    [
        ["a", "--reps"],  # value missing at the end of the line
        ["a", "--repsx", "3"],  # not the --reps option
        ["a", "--reps", "x"],
        ["a", "--reps=0"],
        ["a", "--reps="],
        ["--reps", "3"],  # no key to time
    ],
)
def test_bad_command_line_exits_with_usage(parse_args, argv):
    with pytest.raises(SystemExit) as e:
        parse_args(argv)
    assert "usage:" in str(e.value.code)
