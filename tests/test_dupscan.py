"""Ratchet: tools/dupscan.py's count of repeated package lines may only fall.

The ceilings below are the counts left once every shared statistics
input in operators/aggregates.py, every shared near-dup stage in
llm/dedup.py, every shared CF sub-plan in recommender/core.py and every
streaming run, feed and join side in streaming/stream_windows.py got one
owner: 310 repeated lines in the package, 0 in aggregates.py, dedup.py,
core.py and stream_windows.py. A change that copies a block back
anywhere in the package fails here, not just in a hand-run scan.

To lower a ceiling: remove repeats, run ``python tools/dupscan.py`` and
write its new per-file and total counts here in the same commit.
"""

import os

from tools.dupscan import ROOT, package_files, scan

PACKAGE_CEILING = 310
AGGREGATES_CEILING = 0
DEDUP_CEILING = 0
CORE_CEILING = 0
STREAM_WINDOWS_CEILING = 0
AGGREGATES = os.path.join(
    ROOT, "npc_recommender_netflix_spark", "operators", "aggregates.py"
)
DEDUP = os.path.join(ROOT, "npc_recommender_netflix_spark", "llm", "dedup.py")
CORE = os.path.join(
    ROOT, "npc_recommender_netflix_spark", "recommender", "core.py"
)
STREAM_WINDOWS = os.path.join(
    ROOT, "npc_recommender_netflix_spark", "streaming", "stream_windows.py"
)


def test_package_repeats_do_not_rise():
    total = sum(len(lines) for lines in scan(package_files()).values())
    assert total <= PACKAGE_CEILING, (
        f"{total} repeated package lines, ceiling {PACKAGE_CEILING}; "
        "run `python tools/dupscan.py --show <file>` to find the copy"
    )


def test_aggregates_repeats_do_not_rise():
    lines = scan(package_files())[AGGREGATES]
    assert len(lines) <= AGGREGATES_CEILING, (
        f"aggregates.py repeats {len(lines)} lines, ceiling "
        f"{AGGREGATES_CEILING}: {lines}"
    )


def test_dedup_repeats_do_not_rise():
    lines = scan(package_files())[DEDUP]
    assert len(lines) <= DEDUP_CEILING, (
        f"dedup.py repeats {len(lines)} lines, ceiling {DEDUP_CEILING}: {lines}"
    )


def test_core_repeats_do_not_rise():
    lines = scan(package_files())[CORE]
    assert len(lines) <= CORE_CEILING, (
        f"core.py repeats {len(lines)} lines, ceiling {CORE_CEILING}: {lines}"
    )


def test_stream_windows_repeats_do_not_rise():
    lines = scan(package_files())[STREAM_WINDOWS]
    assert len(lines) <= STREAM_WINDOWS_CEILING, (
        f"stream_windows.py repeats {len(lines)} lines, ceiling "
        f"{STREAM_WINDOWS_CEILING}: {lines}"
    )
