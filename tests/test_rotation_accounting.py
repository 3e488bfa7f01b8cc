"""Rotation-accounting guards for the sampled certification tiers
(r14 verdict item 5).

The sf0.01 oracle tier and the hostile-layout sweep each run a
deterministic ~1/ROTATION_PERIOD slice per round
(``tests/conftest.in_rotation``), promising that EVERY query is fully
re-certified every ROTATION_PERIOD rounds.  That guarantee rests on
two mechanical facts this module pins, so a silent hash/phase bug
(e.g. keying the hash on round+name, or a glob change that stops
seeing CORRECTNESS files) fails the suite loudly instead of quietly
thinning coverage:

(a) across any ROTATION_PERIOD consecutive rounds the slices PARTITION
    the registry — every driver-validated query lands in exactly one
    round's slice (and never-validated queries in all of them);
(b) committing a new CORRECTNESS_r{N}.json advances ``rotation_round``
    by exactly 1 — the phase moves in lockstep with the driver rounds
    and with ``__spark_entry__._rotated``'s window derivation.

Pure accounting — no SparkSession needed.
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import ROTATION_PERIOD, in_rotation, rotation_round

pytestmark = pytest.mark.quick


def test_slices_partition_registry_over_one_period(monkeypatch):
    """Over rounds N, N+1, ..., N+PERIOD-1 every registered query with
    a green driver row appears in EXACTLY one slice, and every
    never-validated query appears in ALL of them."""
    import tests.conftest as cft
    import __spark_entry__ as entry
    from pyspark_pipelining_spark.queries import QUERIES

    validated = set(entry._last_green_rounds())
    base = rotation_round()
    all_names = list(QUERIES)
    assert all_names

    membership: dict[str, list[int]] = {n: [] for n in all_names}
    for rnd in range(base, base + ROTATION_PERIOD):
        monkeypatch.setattr(cft, "rotation_round", lambda r=rnd: r)
        for n in all_names:
            if in_rotation(n):
                membership[n].append(rnd)

    bad_validated = {
        n: rs
        for n, rs in membership.items()
        if n in validated and len(rs) != 1
    }
    assert not bad_validated, f"validated names not in exactly one slice: {bad_validated}"
    bad_fresh = {
        n: rs
        for n, rs in membership.items()
        if n not in validated and len(rs) != ROTATION_PERIOD
    }
    assert not bad_fresh, f"never-validated names missing from a slice: {bad_fresh}"

    # sanity: the rotation actually splits (no degenerate all-in-one-round
    # hash collapse) — each of the PERIOD phases holds some validated name
    per_round = {rnd: 0 for rnd in range(base, base + ROTATION_PERIOD)}
    for n, rs in membership.items():
        if n in validated:
            per_round[rs[0]] += 1
    assert all(v > 0 for v in per_round.values()), per_round


def test_new_correctness_file_advances_round_by_one(tmp_path):
    """``rotation_round`` = max committed CORRECTNESS round + 1, and
    landing one more file moves it by exactly 1 (the driver cadence);
    gaps in the history don't confuse the max."""
    for n in (5, 7):
        (tmp_path / f"CORRECTNESS_r{n}.json").write_text(json.dumps({}))
    assert rotation_round(str(tmp_path)) == 8
    (tmp_path / "CORRECTNESS_r8.json").write_text(json.dumps({}))
    assert rotation_round(str(tmp_path)) == 9
    # empty history → round 1 (the round-1 driver run has no files yet)
    empty = tmp_path / "empty"
    os.makedirs(empty)
    assert rotation_round(str(empty)) == 1


def test_repo_rotation_round_matches_committed_history():
    """The live repo's phase is derived from the committed files — if
    this fails, a CORRECTNESS artifact landed with an unexpected name
    or the glob broke (the silent-coverage-loss failure mode)."""
    import glob
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", p))
    ]
    assert rounds, "no committed CORRECTNESS history visible to the rotation"
    assert rotation_round() == max(rounds) + 1
