"""Guard the driver's correctness-window rotation.

The driver hash-checks the FIRST 50 entries of
``__spark_entry__.queries()`` each round; that order is computed
staleness-first from the committed CORRECTNESS_r*.json files
(``__spark_entry__._rotation_order``). The order promises two things:

1. the upcoming window is exactly [queries with no official row yet]
   + [the stalest official rows] — nothing fresher jumps the queue
   while something staler waits;
2. no query outside the window has a newest official row older than
   MAX_STALE rounds by the time this round's results land — i.e. the
   rotation can never orphan a query.

This test recomputes both from the same files, so a registry that
outgrows the cycle, or an order that drifts, fails here.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50
# Growing past WINDOW * MAX_STALE registered queries breaks the
# cycle — this constant makes that a test failure, not a silent
# protocol violation. Every registered query is also re-pinned
# against DuckDB each session by tests/test_oracle_parity.py.
MAX_STALE = 7


def _latest_official_round() -> dict[str, int]:
    """Newest GREEN row per query.  A red or rows-only row (err set,
    or a match flag not true) is not an official check — counting it
    would defer the query's re-check for up to MAX_STALE rounds."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        for name, row in json.load(open(path)).items():
            green = (
                isinstance(row, dict)
                and row.get("rows_match") is True
                and row.get("hash_match") is True
                and row.get("err") is None
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


def test_upcoming_window_is_stalest_first():
    last = _latest_official_round()
    names = list(entrymod.queries())
    upcoming, rest = names[:WINDOW], names[WINDOW:]

    # Every registered query without an official row must be in the
    # upcoming window (new queries may never wait a round) — UNLESS a
    # single round registered more than WINDOW new queries, in which
    # case the window must be exactly the FIRST (oldest-registered)
    # WINDOW of them and only the newest registrations overflow to the
    # next round (round-8g decision: the overflow is still pinned
    # locally every session by test_oracle_parity, so the wait costs
    # an official row, not correctness coverage).
    no_row = [n for n in names if n not in last]
    if len(no_row) <= WINDOW:
        stragglers = [n for n in no_row if n not in upcoming]
        assert not stragglers, (
            f"queries with no official driver row outside the upcoming "
            f"window: {stragglers}"
        )
    else:
        assert upcoming == no_row[:WINDOW], (
            "no-row overflow: the window must be the first WINDOW "
            "no-row queries in registration order"
        )

    # Staleness-first: no excluded query may be staler than an
    # included one — max(last round inside) <= min(last round outside).
    included = [last[n] for n in upcoming if n in last]
    excluded = [last[n] for n in rest if n in last]
    if included and excluded:
        assert max(included) <= min(excluded), (
            f"window order violates staleness-first: a round-"
            f"{max(included)} row is being re-checked while a round-"
            f"{min(excluded)} row waits"
        )


def test_no_query_ages_out():
    last = _latest_official_round()
    names = list(entrymod.queries())
    current_round = max(last.values()) + 1  # the round being prepared
    too_old = {
        n: last[n]
        for n in names[WINDOW:]
        if n in last and current_round - last[n] > MAX_STALE
    }
    assert not too_old, (
        f"queries outside the upcoming window whose newest official "
        f"row would be > {MAX_STALE} rounds old after r{current_round:02d}: "
        f"{too_old}"
    )


def test_registered_count_fits_rotation_cycle():
    n = len(entrymod.queries())
    assert n <= WINDOW * MAX_STALE, (
        f"{n} registered queries cannot all be re-checked "
        f"within {MAX_STALE} rounds of a {WINDOW}-name window — widen "
        f"MAX_STALE deliberately or shrink the registry"
    )


def test_queries_import_reads_no_correctness_file():
    """The rotation is computed by the driver contract only: importing
    the engine's query registry must not touch CORRECTNESS_r*.json."""
    probe = (
        "import sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda e, a: e == 'open' and opened.append(str(a[0])))\n"
        "import poet_cloud_cost_etl_spark.queries\n"
        "print(sum('CORRECTNESS_r' in p for p in opened))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "0"
