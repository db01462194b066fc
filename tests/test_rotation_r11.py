"""Mechanical check of the r11 driver-visibility window (same
discipline as r10's: 'trust, but verify with a test'). Verifies the
_ROTATION_R11 list against queries() and the CORRECTNESS_r* union so
the composition claims in the comment cannot silently rot:

1. exactly 50 unique names, all resolving in the registry, and the
   registry's first 50 entries ARE the rotation list (the driver
   records only the first 50);
2. the changed-path head is exactly the declared set (the r10/r11
   optimization-touched paths), every one with a prior driver record
   (no new registrations in an optimization round);
3. the drain slots continue the round-4 class oldest-first and
   alphabetically — the first N alphabetical round-4 names not yet
   re-checked in r10.
"""

from __future__ import annotations

import glob
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

CHANGED_PATH_R11 = [
    # r10-optimization-rewritten, last driver-oracled pre-change
    # (VERDICT r10 #3) + r11 TWS-memo removal / replay-path users
    "bt_strengths",
    "elo_ratings",
    "rank_agreement",
    "item_cf",
    "semantic_dedup",
    "events_running_totals",
    "events_topk_stream",
    "events_bucket_stream",
    "events_session_flush",
    "events_dedup_stream",
    "events_watermark",
    "events_quality_window",
    "events_json_extract",
    "events_tumbling",
    "events_sliding",
    "events_session",
]


ROUND = 11


def _latest_driver_round() -> dict[str, int]:
    """Latest CORRECTNESS-record round per query, from the records that
    PRECEDE this round — the history the window was composed from. The
    round's own CORRECTNESS_r11.json records the window itself, so it
    is not an input."""
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))):
        rnd = int(Path(f).name.split("_r")[1].split(".")[0])
        if rnd >= ROUND:
            continue
        for q in json.load(open(f)):
            latest[q] = max(latest.get(q, 0), rnd)
    return latest


def test_rotation_r11_composition():
    import __spark_entry__ as m

    rot = m._ROTATION_R11
    assert len(rot) == 50 and len(set(rot)) == 50
    qs = m.queries()
    missing = [q for q in rot if q not in qs]
    assert not missing, f"rotation names not in queries(): {missing}"
    assert list(qs)[:50] == rot, "registry head is not the rotation list"

    assert rot[: len(CHANGED_PATH_R11)] == CHANGED_PATH_R11, (
        "changed-path head drifted from the declared set"
    )

    latest = _latest_driver_round()
    never_checked = {q for q in rot if q not in latest}
    assert not never_checked, (
        "an optimization round registers nothing new, but "
        f"{sorted(never_checked)} have no prior driver record"
    )

    # the drain continues the round-4 class alphabetically: it must be
    # exactly the first-N alphabetical round-4 names that were still
    # outside a driver window as of r10
    drain = rot[len(CHANGED_PATH_R11):]
    r4_remaining = sorted(
        q
        for q, rnd in latest.items()
        if rnd == 4 and q in qs and q not in CHANGED_PATH_R11
    )
    assert drain == r4_remaining[: len(drain)], (
        "drain slots are not the alphabetical continuation of the "
        f"round-4 class: {drain[:5]}... vs {r4_remaining[:5]}..."
    )
    # and nothing older than round 4 is left outside the window
    stale = {
        q
        for q, rnd in latest.items()
        if rnd < 4 and q in qs and q not in rot
    }
    assert not stale, f"older-than-r4 hashes left outside: {sorted(stale)}"
