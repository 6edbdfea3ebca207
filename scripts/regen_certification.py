"""Regenerate the certification ledger (CERTIFICATION.json) and its
human-readable view (CERTIFICATION.md) — and COMPUTE the rotation.

r7 retrospective: the rotation window used to be a hand-curated list in
queries.py, and the hand missed things twice in one round (seven queries
whose shared-helper semantics changed didn't get re-certification seats;
the doc went stale against a late window edit). The window is now derived,
not curated:

  priority = (never-certified)
           < (changed since last certification, stalest first)
           < (unchanged, stalest first),   name as the final tie-break

where "changed" means the query's content fingerprint (builder source +
oracle SQL + transitive in-package dependency closure — see
scripts/query_fingerprints.py) differs from the fingerprint recorded at
its last external certification. The first WINDOW entries of that order
are what the external harness certifies next round.

Operating contract: run this script at ROUND START, right after the
driver's CORRECTNESS_r{N}.json lands and BEFORE editing any code — at that
moment the working tree is the certified tree, so newly-certified queries
record their current fingerprint. Then run it again (idempotently) after
any code change; tests/test_certification.py fails the suite whenever the
committed ledger/doc disagree with what this script would produce, so a
window-affecting change can't ship without the regenerated ledger in the
same commit. (The r1-r7 backfill came from scripts/
seed_certification_ledger.py, which reconstructed each query's
at-certification fingerprint from the round-end git commits.)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

WINDOW = 50
LEDGER = os.path.join(REPO, "CERTIFICATION.json")

# Externally-REQUESTED re-certification seats: {query: requesting round}.
# A seat holds until the query is certified in a round >= the request, then
# the entry is inert (kept for audit). This is the sanctioned channel for a
# judge/reviewer to demand a refresh the fingerprint closure doesn't call
# for — the alternative (hand-editing the ledger) is exactly the drift the
# mechanization exists to prevent.
REQUESTED_REFRESH: dict[str, int] = {
    # r7 VERDICT finding #2 named both as oracle-text-changed-in-r7; the
    # fingerprint closure disagrees (builders byte-identical between the
    # r6 and r7 round commits, and the operators/functions they reach
    # show no diff — ctm1's oracle has its own inline tokenizer, never
    # the shared _DUCK_TOKENS). Seats granted anyway so the external
    # harness, not an argument, settles it.
    "ctm1_decontamination": 8,
    "h2b_approx_deciles": 8,
}


def requested_refresh(name: str, rec: dict | None) -> bool:
    req = REQUESTED_REFRESH.get(name)
    if req is None:
        return False
    return not rec or rec.get("last_certified_round", 0) < req


def sort_key(name: str, queries: dict, current_fp: dict[str, str]):
    """never-certified < (changed-since-certification OR requested-refresh,
    stalest first) < unchanged (stalest first); name tie-break."""
    rec = queries.get(name)
    if not rec or not rec.get("certified_rounds"):
        return (0, 0, 0, name)
    changed = rec.get("fingerprint") != current_fp.get(name)
    pending = changed or requested_refresh(name, rec)
    return (1, 0 if pending else 1, rec["last_certified_round"], name)


def scan_correctness(max_round: int | None = None) -> dict[str, list[int]]:
    """{query: sorted rounds with a fully-green row} from CORRECTNESS_r*.

    max_round caps which snapshots are folded in — tests use it to
    recompute "the ledger as of the last consumed round" when the driver
    has dropped a newer CORRECTNESS file after the final commit of a round
    (expected at every round boundary; not code drift)."""
    cert: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnum = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        if max_round is not None and rnum > max_round:
            continue
        with open(path) as f:
            snap = json.load(f)
        for q, row in snap.items():
            if all(row.get(k) for k in ("rows_match", "schema_match", "hash_match")):
                cert.setdefault(q, []).append(rnum)
    return cert


def update_ledger(ledger: dict, cert: dict[str, list[int]], current_fp: dict[str, str]) -> dict:
    """Fold newly-landed certifications into the ledger. A round newer than
    the recorded last_certified_round stamps the CURRENT fingerprint (the
    round-start contract above: the tree being regenerated against is the
    tree the driver certified)."""
    queries = dict(ledger.get("queries", {}))
    for q, rounds in cert.items():
        rec = dict(queries.get(q, {"certified_rounds": [], "last_certified_round": 0,
                                   "fingerprint": None}))
        if rounds[-1] > rec["last_certified_round"]:
            rec["certified_rounds"] = rounds
            rec["last_certified_round"] = rounds[-1]
            rec["fingerprint"] = current_fp.get(q)
        else:
            rec["certified_rounds"] = rounds  # keep history complete
        queries[q] = rec
    return queries


def compute_order(names: list[str], queries: dict, current_fp: dict[str, str]) -> list[str]:
    return sorted(names, key=lambda n: sort_key(n, queries, current_fp))


def render_md(order: list[str], queries: dict, current_fp: dict[str, str],
              new_round: int) -> str:
    lines = [
        "# CERTIFICATION — external-harness certification history per query",
        "",
        "The external correctness harness certifies the first 50 registry entries",
        "each round (row-count + schema + order-insensitive value hash vs the",
        "DuckDB oracle at sf0.01). Since r8 the rotation is MECHANIZED: each",
        "query carries a content fingerprint (builder source + oracle SQL +",
        "transitive in-package dependency closure, scripts/query_fingerprints.py),",
        "the fingerprint it had at its last external certification is recorded in",
        "CERTIFICATION.json, and the registry order is computed as",
        "never-certified < changed-since-certification (stalest first) <",
        "unchanged (stalest first). tests/test_certification.py fails whenever",
        "this doc, the ledger, or the live registry order disagree with what",
        "scripts/regen_certification.py would produce — the r7 failure mode",
        "(hand-curated window missing changed queries; doc stale against a late",
        "window edit) is now structurally impossible. ALL queries are",
        "additionally parity-checked on every pytest run by",
        "tests/test_oracle_parity.py, so an out-of-window query can never",
        "silently regress — only its *external* certification snapshot ages.",
        "",
        "'changed' = current fingerprint differs from the one recorded when the",
        "query was last certified; such queries re-certify before merely-stale",
        "ones because a certification snapshot belongs to specific code.",
        "",
        "Generated by scripts/regen_certification.py. Do not edit by hand.",
        "",
        f"| query | certified (rounds) | fingerprint | changed | r{new_round} window |",
        "|---|---|---|---|---|",
    ]
    n_changed = n_debt = n_wait = 0
    for i, n in enumerate(order):
        rec = queries.get(n, {})
        rounds = rec.get("certified_rounds", [])
        certs = ", ".join(f"r{r}" for r in rounds) if rounds else "— (never)"
        changed = bool(rounds) and rec.get("fingerprint") != current_fp.get(n)
        requested = requested_refresh(n, rec)
        n_changed += changed
        # never-certified, changed or requested: owed a certification seat
        if not rounds or changed or requested:
            n_debt += 1
            n_wait += i >= WINDOW
        flag = "yes" if changed else ("requested" if requested else "")
        lines.append(
            f"| {n} | {certs} | {current_fp.get(n, '?')} |"
            f" {flag} | {'yes' if i < WINDOW else ''} |"
        )
    ever = sum(1 for n in order if queries.get(n, {}).get("certified_rounds"))
    n_req = sum(
        1 for n in order
        if requested_refresh(n, queries.get(n))
        and not (queries.get(n, {}).get("fingerprint") != current_fp.get(n)
                 and queries.get(n, {}).get("certified_rounds"))
    )
    lines += [
        "",
        f"Summary: {len(order)} registered queries; {ever} externally certified",
        f"at least once; {len(order) - ever} pending first certification;",
        f"{n_changed} changed since their last certification and {n_req} with",
        "an externally-requested refresh seat (scripts/regen_certification.py",
    ]
    if n_wait:
        # more debt than seats: the window is the highest-priority slice of it
        lines += [
            f"REQUESTED_REFRESH). The r{new_round} window holds the {WINDOW}"
            f" highest-priority of these {n_debt}",
            f"queries; {n_wait} wait for a later window.",
        ]
    else:
        lines += [
            f"REQUESTED_REFRESH) — all in the r{new_round} window, which holds the",
            f"{WINDOW} highest-priority seats.",
        ]
    lines.append("")
    return "\n".join(lines)


def build(max_round: int | None = None) -> tuple[dict, str]:
    """Compute the (ledger dict, CERTIFICATION.md text) the repo should
    contain right now. Shared by main() and tests/test_certification.py.
    max_round: see scan_correctness."""
    from query_fingerprints import fingerprints

    from graphsense_ethereum_etl_spark.queries import REGISTRY

    current_fp = fingerprints()
    names = sorted(REGISTRY)
    cert = scan_correctness(max_round)
    old = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as f:
            old = json.load(f)
    queries = update_ledger(old, cert, current_fp)
    order = compute_order(names, queries, current_fp)
    new_round = max((r for rs in cert.values() for r in rs), default=0) + 1
    ledger = {"window": WINDOW, "queries": {n: queries[n] for n in sorted(queries)},
              "registry_order": order}
    return ledger, render_md(order, queries, current_fp, new_round)


def main() -> None:
    ledger, md = build()
    with open(LEDGER, "w") as f:
        json.dump(ledger, f, indent=1)
        f.write("\n")
    with open(os.path.join(REPO, "CERTIFICATION.md"), "w") as f:
        f.write(md)
    order = ledger["registry_order"]
    print(f"wrote CERTIFICATION.json + CERTIFICATION.md: {len(order)} queries; "
          f"window head: {order[:8]} ...")


if __name__ == "__main__":
    main()
