"""Freshness invariant (VERDICT r11 item 5): rewrite-after-green, enforced.

Every registered key's implementation fingerprint (transitive source
closure + oracle SQL, tools/freshness.py) must match the checked-in
ledger entry recorded at its last green emulator verification. Editing
any code a key's query function reaches — the function itself, a shared
helper like lloyd_centroids, a geometry constant, the oracle — flips
the fingerprint and fails this test until

    python tools/update_fingerprints.py

re-runs the neutral-session driver emulation on exactly the changed keys
and, only on green, refreshes their entries. The ledger commit alongside
a code change is therefore a testable claim: "this exact code was
emulator-verified."
"""

from __future__ import annotations

from tools.freshness import live_fingerprints, load_ledger


def test_every_key_fingerprint_matches_verified_ledger():
    live = live_fingerprints()
    ledger = load_ledger()
    unrecorded = sorted(set(live) - set(ledger))
    assert not unrecorded, (
        f"keys with no verification record {unrecorded} — run "
        "python tools/update_fingerprints.py"
    )
    ghosts = sorted(set(ledger) - set(live))
    assert not ghosts, (
        f"ledger entries for unregistered keys {ghosts} — run "
        "python tools/update_fingerprints.py"
    )
    seeded = sorted(k for k, v in ledger.items() if str(v).startswith("seeded:"))
    assert not seeded, (
        f"ledger entries seeded by --init WITHOUT verification for {seeded} "
        "(ADVICE r12 item 1) — run python tools/update_fingerprints.py to "
        "emulator-verify them and clear the marker"
    )
    stale = sorted(k for k in live if ledger[k] != live[k])
    assert not stale, (
        f"implementation changed after last verification for {stale} — "
        "re-verify and refresh: python tools/update_fingerprints.py"
    )
