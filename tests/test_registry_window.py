"""Driver-window rotation invariants (r7 verdict #1 and #4).

The correctness driver hashes the FIRST 50 registry entries only, so
with 100 entries the rotation list in ``api.py`` is the sole mechanism
that guarantees every entry a driver-green row within two rounds. These
tests pin (a) the exact round-8 window composition and (b) the
loud-fail insurance: a new entry registered without updating the
rotation plan must raise at import, not silently land outside every
window (the ``bda2c85`` failure mode, twice flagged by the judge).
"""

import os

import pytest

from sigmod_2024_contest_spark import api

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


ROUND8_WINDOW = {
    # the only entry with zero driver rows before r8
    "power_users_daily_coverage",
    # the 49 r6-window entries rotated back in
    "ann_cosine_topk", "ann_ivf_topk", "ann_lsh_topk", "chunk_documents",
    "curate_corpus", "decontaminate", "dedup_clusters", "dedup_containment",
    "dedup_cosine_lsh", "dedup_embedding_cosine", "dedup_exact",
    "dedup_jaccard", "dedup_minhash_lsh", "dedup_simhash", "doc_fingerprint",
    "events_click_attribution", "events_sessionized", "events_windowed_counts",
    "knn_asym_rerank", "knn_auto", "knn_bruteforce", "knn_declarative",
    "knn_hybrid", "knn_hybrid_bf_exact", "knn_sq4_rerank", "knn_sq8_rerank",
    "lang_id", "mixture_sample", "ngram_counts", "pack_sequences",
    "recall_hybrid_vs_exact", "recall_ivf_vs_exact", "recall_lsh_vs_exact",
    "recall_nndescent_vs_exact", "redact_pii", "route_plan",
    "sample_balanced_splits", "selectivity", "split_interval", "sq4_encode",
    "sq8_asym_encode", "sq8_encode", "stats_category_counts",
    "text_repetition", "text_stats", "token_counts", "vocab_counts",
    "winnow_fingerprints", "workload_stats",
}


WINDOW_HEAD = [
    # r15: three FORCED names (rotate_window.py --force). The route
    # ladder lost its type-0 clause: type-0 queries leave the bf subset,
    # so route_plan's and knn_hybrid_bf_exact's rows changed, and
    # knn_hybrid's fused plan no longer reads the route.
    "route_plan",
    "knn_hybrid",
    "knn_hybrid_bf_exact",
]

FORCED = ["route_plan", "knn_hybrid_bf_exact", "knn_hybrid"]


def test_round15_window_is_exactly_the_planned_set():
    """First 50 registry keys == the three forced names + the stalest
    block: no r14-green name except the forced three re-occupies a
    slot, and every r14-green name left out waits in prior-green."""
    first = list(api._REGISTRY)[: api._DRIVER_WINDOW]
    assert len(first) == 50
    assert first[:3] == WINDOW_HEAD
    import json

    r14 = {
        k
        for k, v in json.load(open(os.path.join(ROOT, "CORRECTNESS_r14.json"))).items()
        if v.get("err") is None
    }
    assert (r14 - set(FORCED)).isdisjoint(first)
    assert r14 - set(FORCED) <= set(api._PRIOR_ROUND_GREEN)


def test_rotate_window_tool_reproduces_r15_window():
    """On the real r1-r14 artifacts, the live registry, and the
    declared force list the tool must propose exactly the committed
    r15 lists — the rotation stays mechanical, not hand-curated."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from rotate_window import load_green_rounds, plan_next_window

    rounds = {k: v for k, v in load_green_rounds(ROOT).items() if k <= 14}
    assert max(rounds) == 14
    nxt, prior = plan_next_window(
        list(api._REGISTRY), rounds, window=50, force=tuple(FORCED)
    )
    assert nxt == api._CHECK_FIRST
    assert prior == set(api._PRIOR_ROUND_GREEN)


def test_rotation_cadence_bound():
    """The arithmetic staleness bound, pinned (r10 verdict #5): with N
    registry entries and a 50-slot window, mechanical stalest-first
    rotation must (a) always preempt never-green entries and (b) never
    let any entry go more than ceil(N/50) driver rounds without a
    green row once the cycle is warm. A 4-round-stale entry becoming
    possible fails here before it happens in production."""
    import math
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from rotate_window import load_green_rounds, plan_next_window

    names = list(api._REGISTRY)
    window = api._DRIVER_WINDOW
    bound = math.ceil(len(names) / window)
    assert bound == 3  # 125 entries / 50 slots — update alongside the registry
    rounds = {k: set(v) for k, v in load_green_rounds(ROOT).items()}
    cur = max(rounds)
    latest: dict[str, int] = {}
    for rnd, g in rounds.items():
        for n in g:
            if n in set(names):
                latest[n] = max(latest.get(n, 0), rnd)
    # simulate 2*bound future driver rounds of mechanical rotation,
    # each greening exactly the planned window
    for step in range(1, 2 * bound + 1):
        rnd = cur + step
        nxt, prior = plan_next_window(names, rounds, window)
        never = [n for n in names if n not in latest]
        assert all(n in nxt for n in never), "never-green must preempt"
        assert set(names) <= set(nxt) | prior
        rounds[rnd] = set(nxt)
        for n in nxt:
            latest[n] = rnd
        if step >= bound:  # cycle warm: every entry visited once
            stale = [n for n in names if rnd - latest[n] >= bound]
            assert not stale, (rnd, stale[:5])


def test_window_plus_prior_green_covers_registry():
    """No entry may sit outside both the current window and the
    prior-round green list — the condition _rotate_registry enforces."""
    covered = set(api._CHECK_FIRST) | set(api._PRIOR_ROUND_GREEN)
    assert set(api._REGISTRY) <= covered


def test_registering_unplanned_entry_fails_rotation():
    """A 101st entry added without updating _CHECK_FIRST or
    _PRIOR_ROUND_GREEN must fail _rotate_registry loudly."""
    name = "___unplanned_test_entry___"
    assert name not in api._REGISTRY
    api._REGISTRY[name] = (lambda s, d: None, None)
    try:
        with pytest.raises(AssertionError, match="outside every driver window"):
            api._rotate_registry()
    finally:
        api._REGISTRY.pop(name, None)
        api._rotate_registry()  # restore canonical order


def test_overfull_window_fails_rotation():
    """_CHECK_FIRST longer than the driver window must fail: names past
    position 50 would silently never be checked."""
    extra = "___overflow_test_entry___"
    api._REGISTRY[extra] = (lambda s, d: None, None)
    api._CHECK_FIRST.append(extra)
    try:
        with pytest.raises(AssertionError, match="trim the list"):
            api._rotate_registry()
    finally:
        api._CHECK_FIRST.remove(extra)
        api._REGISTRY.pop(extra, None)
        api._rotate_registry()


def test_rotate_window_tool_plans_stalest_first():
    """tools/rotate_window.py ranks never-green entries first, then
    oldest-green, and reports the newest round as prior-green —
    the mechanical form of the standing half-swap obligation."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from rotate_window import plan_next_window

    names = ["a", "b", "c", "d", "e"]
    rounds = {
        7: {"a", "b"},         # newest round green
        6: {"c"},              # stale by one round
    }                           # d, e: never green
    nxt, prior = plan_next_window(names, rounds, window=3)
    assert nxt == ["d", "e", "c"]  # never-green first, then stalest
    assert prior == {"a", "b"}


def test_rotate_window_tool_reproduces_r8_window():
    """On the repo's real r1-r7 artifacts the tool must propose exactly
    the committed r8 window (same 50 names)."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from rotate_window import load_green_rounds, plan_next_window

    # pin to rounds <= 7 and to the LITERAL r8 window: the input and
    # the expectation are both frozen facts, so this stays green after
    # the driver writes CORRECTNESS_r08+ and after future rotations
    # change api._CHECK_FIRST
    rounds = {k: v for k, v in load_green_rounds(ROOT).items() if k <= 7}
    assert max(rounds) == 7
    names = sorted(ROUND8_WINDOW | rounds[7])  # the r8-era registry, frozen
    nxt, prior = plan_next_window(names, rounds, window=50)
    assert set(nxt) == ROUND8_WINDOW
    assert prior == rounds[7]


def test_check_first_names_are_registered():
    """A typo'd window name must fail rather than shrink the window."""
    api._CHECK_FIRST.append("___missing_entry___")
    try:
        with pytest.raises(AssertionError, match="unregistered"):
            api._rotate_registry()
    finally:
        api._CHECK_FIRST.remove("___missing_entry___")
        api._rotate_registry()
