"""Sweep-order invariants: the external correctness sweep records only
the first ~50 registered queries, so the priority list must put the
queries with the weakest evidence inside that window."""

from __future__ import annotations

import os

from airflow_jira_etl_spark import registry
from airflow_jira_etl_spark.tools.sweep_advisor import evidence_by_query

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP_WINDOW = 50

registry.load_all_queries()


def test_never_checked_queries_lead_the_window():
    """Every query with NO driver row in any CORRECTNESS artifact must
    sit inside the sweep window — otherwise it can never gain first
    evidence."""
    ev = evidence_by_query(REPO)
    order = list(registry.QUERIES)
    window = set(order[:SWEEP_WINDOW])
    never = [n for n in order if n not in ev]
    missing = [n for n in never if n not in window]
    assert not missing, (
        f"never-driver-checked queries outside the {SWEEP_WINDOW}-slot "
        f"window: {missing}"
    )


def test_red_rows_lead_the_window():
    """Any query whose LATEST driver row is red must be re-proved this
    round — it has to be inside the sweep window."""
    ev = evidence_by_query(REPO)
    order = list(registry.QUERIES)
    window = set(order[:SWEEP_WINDOW])
    red = [n for n, (rnd, green) in ev.items() if not green and n in registry.QUERIES]
    missing = [n for n in red if n not in window]
    assert not missing, f"red-evidence queries outside the window: {missing}"


# Round-15 window plan: evidence tiers after the eighth consecutive
# fully-green driver round are r12:50, r13:50, r14:50. The oldest
# (r12) tier is EXACTLY window-sized, so the window is that tier and
# nothing else — no new registrations this round (and none possible
# without a documented displacement), no oversubscription, NO
# deferrals (see the derivation comment above registry.SWEEP_PRIORITY,
# including the r16 structural note: the r13 tier is also exactly 50).
DEFERRED: set[str] = set()

# Evidence-age threshold for "must re-prove this round": the whole
# r12 tier fits the window, so everything at or below r12 must be
# inside it.
STALE_ROUND = 12

# Round 15 has NO code-recency promotions. Two round-15 code changes
# touch registered-query modules but are all value-neutral on the
# driver fixtures and pinned by tests, so none displaces an r12 row
# (documented demotions, same rationale as llm_dedup_paragraph in
# r14):
# - llm_decontaminate_bloom: gained bands=N with default 1 == the r14
#   single-bitset build (bit-identical; tests/test_bloom_banding.py).
# - llm_dedup_paragraph: ADVICE-r14 guard-shape fix (abs() → explicit
#   range compare) — error-path-only, in-range outputs unchanged.
PROMOTED: set[str] = set()


def test_stale_evidence_queries_fill_the_window():
    """Every query whose latest driver evidence is at or below the
    stale threshold must be in the sweep window, except the explicitly
    documented deferrals — and ONLY those may be deferred (no silent
    displacement)."""
    ev = evidence_by_query(REPO)
    order = list(registry.QUERIES)
    window = set(order[:SWEEP_WINDOW])
    stale = {n for n in order if n in ev and ev[n][0] <= STALE_ROUND}
    deferred_out = stale - window
    assert deferred_out == (DEFERRED & stale), (
        f"undocumented stale-evidence deferrals: {deferred_out - DEFERRED}"
    )


def test_promoted_queries_in_window():
    """Queries promoted for code/oracle recency (the advisor cannot see
    code changes) must sit inside the window."""
    order = list(registry.QUERIES)
    window = set(order[:SWEEP_WINDOW])
    missing = PROMOTED - window
    assert not missing, f"promoted queries outside the window: {missing}"


def test_advisor_covers_registry():
    ev = evidence_by_query(REPO)
    # artifacts may mention queries that were renamed away; but every
    # CURRENT query either has evidence or is queued in the window
    # (checked above). Sanity: the advisor parses every artifact row.
    assert len(ev) >= 50


def test_every_registered_query_has_an_oracle():
    """Round 7 converted the last rows-only queries to hash-checkable
    oracles; the driver has no rows-only mode (records err=no_oracle),
    so a new oracle-less registration would silently forfeit its
    correctness evidence. Engine-specific outputs belong behind a
    boolean-contract oracle (see agg_approx_distinct /
    llm_sim_ivf_topk), not behind a missing one."""
    missing = sorted(set(registry.QUERIES) - set(registry.ORACLES))
    assert not missing, f"queries without a SQL oracle: {missing}"
