"""Structural invariants of the driver-facing registry (the full
per-query DuckDB sweep lives in tests/test_all_oracle_sweep.py —
round-7 verdict item 8 made that the one budgeted place it runs)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_rows_only_queries_execute(spark, sf_dir):
    """The handful of registered queries WITHOUT an oracle (approximate
    LSH variants, sketches — each has a hash-checked exact twin or a
    pytest recall test) still must build and execute; the oracle-bearing
    rest is executed by the sweep in test_all_oracle_sweep.py, so
    running them again here would double the suite's cost for nothing."""
    oracles = entrymod.oracle_sql()
    for name, fn in entrymod.queries().items():
        if name in oracles:
            continue
        df = fn(spark, sf_dir)
        assert df.columns, f"{name}: no columns"
        assert len(df.take(1)) >= 0


def test_sweep_window_covers_every_family():
    """The driver's correctness sweep covers the FIRST 50 queries in
    registration order (round-1 verdict item 1). The window is now
    COMPUTED from the on-disk CORRECTNESS_r*.json files (round-6
    verdict item 1 — the hand-rolled list went stale three rounds
    running), so these invariants hold at HEAD *by construction*;
    this test pins them against regressions in the computation:
    SWEEP_PRIORITY IS the window (exactly 50 names, in order), every
    windowed query has an oracle (zero `no_oracle` rows in the
    driver report — round-4 verdict item 6), no window slot is
    WASTED while never-driver-swept oracle queries exist (round-4
    verdict item 1), and re-check slots go to the STALEST driver
    evidence first."""
    from sync_cosmos_db_spark.queries import SWEEP_PRIORITY, _swept_rounds

    names = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    assert len(SWEEP_PRIORITY) == 50
    assert names[:50] == SWEEP_PRIORITY, "window != SWEEP_PRIORITY"
    no_oracle = [n for n in SWEEP_PRIORITY if n not in oracles]
    assert not no_oracle, f"windowed queries without oracles: {no_oracle}"

    # One source of truth for "swept": the same _swept_rounds() the
    # window computation uses (round-11 verdict item 1a: a separate
    # CORRECTNESS_r0*.json glob here stopped matching r10+ and
    # spuriously flagged the r11-only rows as never-swept).
    rounds, passed = _swept_rounds()
    swept: set = set(rounds)
    backlog = {n for n in names if n in oracles and n not in swept}
    if len(backlog) <= 50:
        missed = [n for n in backlog if n not in names[:50]]
        assert not missed, f"never-swept oracle queries missed: {missed}"
    else:
        wasted = [n for n in names[:50] if n in swept]
        assert not wasted, (
            f"window slots spent on already-swept queries while "
            f"{len(backlog)} never-swept queries wait: {wasted}")

    # Structural rotation: backlog (never-swept) fills the window
    # front in registration order; queries whose LATEST driver row
    # FAILED come next (a fix is re-verified the very next round,
    # round-10 change); queries EDITED after their latest driver row
    # come next (round-10 verdict item 2 — pre-edit green evidence is
    # not evidence); remaining re-check slots are ordered by
    # last-swept round ascending (stalest evidence re-verified first).
    from sync_cosmos_db_spark.queries import EDITED_ROUND

    assert rounds, "no CORRECTNESS_r*.json parsed — test is vacuous"
    failed_in_window = [n for n in names[:50]
                        if n in rounds and not passed.get(n, True)]
    green_in_window = [n for n in names[:50]
                       if n in rounds and passed.get(n, True)]
    edited_in_window = [n for n in green_in_window
                        if rounds[n] < EDITED_ROUND.get(n, 0)]
    fresh_in_window = [n for n in green_in_window
                       if rounds[n] >= EDITED_ROUND.get(n, 0)]
    all_failed = [n for n in names if n in oracles
                  and n in rounds and not passed.get(n, True)]
    all_edited = [n for n in names if n in oracles and n in rounds
                  and passed.get(n, True)
                  and rounds[n] < EDITED_ROUND.get(n, 0)]
    # every latest-failed query is re-checked before any green re-check
    if len(backlog) + len(all_failed) <= 50:
        missing_failed = [n for n in all_failed if n not in names[:50]]
        assert not missing_failed, (
            f"latest-failed queries missed by the window: {missing_failed}")
    if failed_in_window and green_in_window:
        last_failed_pos = max(names[:50].index(n) for n in failed_in_window)
        first_green_pos = min(names[:50].index(n) for n in green_in_window)
        assert last_failed_pos < first_green_pos, (
            "failed re-checks must precede green re-checks")
    # every edited-unverified query is re-checked before any fresh
    # green re-check (window permitting)
    if len(backlog) + len(all_failed) + len(all_edited) <= 50:
        missing_edited = [n for n in all_edited if n not in names[:50]]
        assert not missing_edited, (
            f"edited-unverified queries missed by the window: "
            f"{missing_edited}")
    if edited_in_window and fresh_in_window:
        last_edited_pos = max(names[:50].index(n) for n in edited_in_window)
        first_fresh_pos = min(names[:50].index(n) for n in fresh_in_window)
        assert last_edited_pos < first_fresh_pos, (
            "edited re-checks must precede fresh-green re-checks")
    # each tier is internally stalest-first
    for tier in (edited_in_window, fresh_in_window):
        tier_rounds = [rounds[n] for n in tier]
        assert tier_rounds == sorted(tier_rounds), (
            "re-check tier not stalest-first")
    n_backlog_in_window = sum(1 for n in names[:50] if n not in swept)
    assert n_backlog_in_window == min(len(backlog), 50)


def test_edited_queries_registered():
    """Tripwire (round-10 verdict item 2): any @query-registered
    query whose fingerprint changed since the last driver round
    boundary must carry an EDITED_ROUND entry for the CURRENT round, so
    the sweep prioritizer re-verifies it next driver pass.  Uses
    tools/edited_queries.py: the fingerprint covers the query's code
    without docstrings or imports, its oracle SQL and every
    query-module helper or constant it reaches, so a pure move needs
    no entry.  Edits under operators/, streaming/ or session.py can't
    be auto-attributed — those still rely on the editor's discipline."""
    import glob
    import os
    import re
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tool = os.path.join(repo, "tools", "edited_queries.py")
    proc = subprocess.run([sys.executable, tool], cwd=repo,
                          capture_output=True, text=True)
    if proc.returncode != 0:  # no git / shallow clone — skip, not fail
        import pytest
        pytest.skip(f"edited_queries.py unavailable: {proc.stderr[:200]}")
    edited_now = set(proc.stdout.split())

    # Anchor the required round to the SAME event the diff is anchored
    # to — the latest "round N:" boundary commit — not to the set of
    # CORRECTNESS_r*.json files on disk (round-11 verdict item 1b: the
    # driver drops the results file BEFORE the boundary commit, so
    # file-derived current_round ran one ahead of the diff ref and
    # spuriously flagged every in-round edit).  Edits since the round-N
    # boundary belong to round N+1.
    head = subprocess.run(
        ["git", "log", "--oneline", "--grep", "^round [0-9]*:", "-n", "1",
         "--format=%s"],
        cwd=repo, capture_output=True, text=True)
    m = re.match(r"round (\d+):", head.stdout.strip())
    if m:
        required_round = int(m.group(1)) + 1
    else:  # no boundary commit yet — fall back to the results files
        file_rounds = [int(re.search(r"_r0*(\d+)\.json$", p).group(1))
                       for p in glob.glob(
                           os.path.join(repo, "CORRECTNESS_r*.json"))]
        required_round = max(file_rounds) + 1 if file_rounds else 1

    from sync_cosmos_db_spark.queries import EDITED_ROUND, _swept_rounds
    swept, _ = _swept_rounds()
    # BRAND-NEW queries (no driver row ever) are backlog-tier by
    # construction — the window already fronts them; EDITED_ROUND only
    # matters for queries with a pre-edit green row to distrust.  A
    # driver row from required_round or later POSTDATES the edit (the
    # driver sweeps at round end), so it is itself fresh evidence and
    # needs no EDITED_ROUND entry (round-11 verdict item 1b).
    missing = sorted(
        n for n in edited_now
        if n in swept and swept[n] < required_round
        and EDITED_ROUND.get(n, 0) < required_round)
    assert not missing, (
        f"queries edited this round without an EDITED_ROUND="
        f"{required_round} entry (sweep would trust pre-edit driver "
        f"rows): {missing}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1


def test_readme_counts_match_registry():
    """README's registry line must track the live registry (round-5
    verdict item 7: the counts drifted twice; this pins them)."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "README.md")) as f:
        m = re.search(r"Registry: (\d+) named queries, (\d+) "
                      r"hash-checked against DuckDB oracles", f.read())
    assert m, "README registry line missing"
    assert int(m.group(1)) == len(entrymod.queries())
    assert int(m.group(2)) == len(entrymod.oracle_sql())
