"""scripts/scale_probe.py's round table is only exercised minutes into
a 10x/100x probe, so a renamed query or a dropped flag would surface
there, not here. Pure table checks, no Spark session."""

from __future__ import annotations

import importlib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from shippinglanes_spark.registry import all_queries

sp = importlib.import_module("scale_probe")


def test_every_round_name_is_registered():
    registry = all_queries()
    missing = {
        flag: [n for n in names if n not in registry]
        for flag, (_, names) in sp.ROUNDS.items()
    }
    missing["(default)"] = [n for n in sp.DEFAULT_NAMES if n not in registry]
    assert not any(missing.values()), missing
    for flag, (scales, _) in sp.ROUNDS.items():
        assert scales in (sp.X10, sp.X100), flag


def test_every_flag_scaling_md_cites_dispatches():
    with open(os.path.join(REPO, "SCALING.md")) as f:
        cited = set(re.findall(r"--r\d+(?:-[a-z0-9]+)*", f.read()))
    assert cited, "SCALING.md cites no scale_probe flag"
    assert cited <= set(sp.ROUNDS) | {sp.DIALS_FLAG}, cited - set(sp.ROUNDS)
