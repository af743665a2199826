"""Pins for the driver-gate rotation schedule (VERDICT r6 #1).

The driver's CORRECTNESS gate samples the FIRST 50 registered queries,
so registration order decides which queries ever get a driver row.
rotation.py holds the per-round window; these tests keep it honest:
every scheduled name must exist, the round-7 window must consist
entirely of queries that never had a driver row in rounds 2-6, and
the schedule (window + round-8 remainder + already-sampled) must
cover the whole registry so nothing silently falls out of rotation.
"""

from __future__ import annotations

import json
import os

import pytest

from file_scraper_spark import registry, rotation

registry._ensure_loaded()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sampled_rounds_2_to_6() -> set[str]:
    seen: set[str] = set()
    for n in range(2, 7):
        path = os.path.join(REPO, f"CORRECTNESS_r{n:02d}.json")
        if os.path.exists(path):
            with open(path) as f:
                seen |= set(json.load(f))
    return seen


def test_rotation_names_exist_and_unique():
    names = set(registry.REGISTRY)
    for lst in (rotation.DRIVER_WINDOW_PRIORITY, rotation.ROUND8_REMAINDER):
        assert len(lst) == len(set(lst)), "duplicate in rotation list"
        missing = [n for n in lst if n not in names]
        assert not missing, f"rotation names not in registry: {missing}"
    overlap = set(rotation.DRIVER_WINDOW_PRIORITY) & set(
        rotation.ROUND8_REMAINDER
    )
    assert not overlap, f"name in both rotation lists: {overlap}"


def test_window_prioritizes_unsampled_queries():
    """The self-advancing invariant: the registry's head must be every
    still-unsampled scheduled name in schedule order, and the driver's
    50-row window must never waste a slot on an already-sampled query
    while unsampled ones remain. Written against the artifacts on
    disk, so it keeps holding after each round's CORRECTNESS file
    lands (the window rotates, the invariant doesn't)."""
    seen = rotation.sampled_in_prior_rounds()
    order = list(registry.REGISTRY)
    expected_head = [
        n
        for n in (
            list(rotation.DRIVER_WINDOW_PRIORITY)
            + list(rotation.ROUND8_REMAINDER)
        )
        if n in registry.REGISTRY and n not in seen
    ]
    assert order[: len(expected_head)] == expected_head
    n_unsampled = sum(1 for n in order if n not in seen)
    window = order[:50]
    stale = [n for n in window if n in seen]
    if n_unsampled >= 50:
        assert not stale, (
            f"window wastes slots on already-sampled queries: {stale}"
        )
    assert len(rotation.DRIVER_WINDOW_PRIORITY) == 50


def test_scan_artifacts_is_conservative(tmp_path):
    """Round-7 advisory (medium): anything we cannot positively read
    as a pass must keep the query IN the window — unknown row shapes
    are NOT 'assume sampled', a latest-red row un-verifies a
    previously-green query, absent rows_match is not a pass, and a
    rows-only row (hash_match null) still passes."""
    a = {
        "green_then_red": {"rows_match": True, "schema_match": True,
                           "hash_match": True, "err": None},
        "stays_green": {"rows_match": True, "schema_match": True,
                        "hash_match": True, "err": None},
        "weird_shape": "not-a-dict",
        "no_pass_marker": {"err": None},
    }
    b = {
        "green_then_red": {"rows_match": False, "schema_match": True,
                           "hash_match": False, "err": None},
        "rows_only": {"rows_match": True, "err": None},
    }
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(a))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(b))
    st = rotation.scan_artifacts(root=str(tmp_path))
    assert st["green_then_red"] == (False, 2)  # red latest -> back in window
    assert st["stays_green"][0] is True
    assert st["weird_shape"][0] is False
    assert st["no_pass_marker"][0] is False
    assert st["rows_only"] == (True, 3)


def test_recheck_pads_are_stalest_first(tmp_path):
    """Once every query is verified, reorder() must emit the verified
    re-check pads OLDEST green row first, so a regression in any old
    query becomes driver-visible within ~3 rounds (round-7 advisory,
    high). Exercises the actual sort in reorder() on synthetic
    artifacts — the r8 advisory found the previous version of this
    test only asserted a coincidental property of the live repo
    artifacts and never called reorder() at all."""
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    # greens deliberately NON-monotone in registry import order:
    # q_mid went green most recently, q_new latest-red, q_never never
    # sampled — the pre-fix test would have passed on monotone data
    # without the sort existing.
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_a": green, "q_d": green}))
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({"q_mid": green}))
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q_b": green,
                    "q_new": {"rows_match": False, "err": None}}))
    fake = {n: object() for n in
            ("q_mid", "q_a", "q_new", "q_b", "q_never", "q_d")}
    out = list(rotation.reorder(fake, root=str(tmp_path)))
    # head: unverified (latest-red + never-sampled) in import order
    assert out[:2] == ["q_new", "q_never"]
    # tail: verified pads sorted by last green round (r2, r2, r3, r5),
    # import-order stable within a round (q_a before q_d)
    assert out[2:] == ["q_a", "q_d", "q_b", "q_mid"]


def test_live_window_opens_with_unverified_then_stalest_green():
    """On the real artifacts, the driver's 50-row window must open with
    the unverified names (none once all 242 queries are green) followed
    by the verified names, least recently verified first, so an old
    query is re-hashed within a bounded number of rounds."""
    art = rotation.scan_artifacts()
    seen = rotation.sampled_in_prior_rounds()
    if not seen:
        pytest.skip("no CORRECTNESS_r*.json artifacts in this checkout")
    order = list(registry.REGISTRY)
    k = sum(1 for n in order if n not in seen)
    assert not set(order[:k]) & seen
    pad_rounds = [art[n][1] for n in order[k:]]
    assert pad_rounds == sorted(pad_rounds)


def test_scan_artifacts_sorts_rounds_numerically(tmp_path):
    """Round-8 advisory: artifact recency must follow the PARSED round
    number, not lexicographic filename order — at r100+ a newer red
    row would otherwise be masked by a stale r99 green and the
    regressed query silently rotated out of the window."""
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    red = {"rows_match": False, "err": None}
    # lexicographically "r100" < "r99": the buggy sort reads r99 last
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({"q": green}))
    (tmp_path / "CORRECTNESS_r100.json").write_text(
        json.dumps({"q": red}))
    st = rotation.scan_artifacts(root=str(tmp_path))
    assert st["q"][0] is False, (
        "newest (r100) red row must win over the older r99 green"
    )


def test_schedule_covers_entire_registry():
    seen = _sampled_rounds_2_to_6()
    scheduled = (
        set(rotation.DRIVER_WINDOW_PRIORITY)
        | set(rotation.ROUND8_REMAINDER)
        | seen
    )
    uncovered = set(registry.REGISTRY) - scheduled
    assert not uncovered, (
        "queries outside the rotation schedule would never get a "
        f"driver CORRECTNESS row: {sorted(uncovered)}"
    )
