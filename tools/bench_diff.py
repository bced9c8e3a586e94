#!/usr/bin/env python3
"""Per-query bench diff, adjudicated by plan fingerprints.

Usage: python3 tools/bench_diff.py OLD.json NEW.json [ratio]
           [--plans OLD_LEDGER NEW_LEDGER]

Compares the per-query minima of two bench artifacts (BENCH_LOCAL.json
or a driver BENCH_r*.json whose full line survived) and prints every
query whose time moved by more than `ratio` (default 1.5x) in either
direction.

With --plans, two plan-ledger files (tools/plan_ledger.txt at the two
revisions, e.g. via `git show OLDREF:tools/plan_ledger.txt`) add a
plans-changed column: a timing move on a query whose canonical plan
also changed is a code-caused move by construction, while a move with
an identical plan fingerprint is ambient or data-sized. Queries whose
plan changed WITHOUT a timing move are listed too (silent shape drift
the ledger spec would have demanded a commit for). Per-layer evidence
for a flagged query comes from `perfbench/run.py --trace 1`.

Exit code 1 if any SLOWDOWN above the ratio is not explained by an
identical plan fingerprint (plan=CHANGED, or no --plans given), else 0
— usable as a soft tripwire in a round's closing checklist.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def parse_ledger(path):
    """tools/plan_ledger.txt format: `== name ==` headers, tree beneath."""
    out, cur = {}, None
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if line.startswith("== ") and line.endswith(" =="):
                cur = line[3:-3]
                out[cur] = []
            elif cur is not None:
                out[cur].append(line)
    return {k: "\n".join(v) for k, v in out.items()}


def main():
    argv = list(sys.argv[1:])
    plans_changed = None
    if "--plans" in argv:
        i = argv.index("--plans")
        lo, ln = parse_ledger(argv[i + 1]), parse_ledger(argv[i + 2])
        del argv[i:i + 3]
        plans_changed = {q for q in set(lo) | set(ln)
                         if lo.get(q) != ln.get(q)}
    if len(argv) < 2:
        print(__doc__)
        return 2
    old, new = load(argv[0]), load(argv[1])
    ratio = float(argv[2]) if len(argv) > 2 else 1.5
    qo, qn = old.get("queries", {}), new.get("queries", {})
    shared = sorted(set(qo) & set(qn))
    added = sorted(set(qn) - set(qo))
    removed = sorted(set(qo) - set(qn))
    unexplained = []
    moves = []
    for q in shared:
        a, b = qo[q], qn[q]
        if a <= 0 or b <= 0:
            continue
        r = b / a
        if r >= ratio or r <= 1.0 / ratio:
            moves.append((r, q, a, b))
            same_plan = plans_changed is not None and q not in plans_changed
            if r >= ratio and not same_plan:
                unexplained.append(q)
    for r, q, a, b in sorted(moves, key=lambda m: -m[0]):
        tag = "REGRESSION?" if q in unexplained else (
            "slower" if r >= ratio else "improved")
        plan = ""
        if plans_changed is not None:
            plan = "  plan=CHANGED" if q in plans_changed else "  plan=same"
        print(f"{q:36s} {a:7.2f}s -> {b:7.2f}s  {r:5.2f}x  {tag}{plan}")
    if plans_changed is not None:
        moved = {m[1] for m in moves}
        silent = sorted(plans_changed - moved)
        if silent:
            print(f"plan changed without a timing move ({len(silent)}): "
                  f"{', '.join(silent)}")
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    tot_o = sum(v for v in qo.values() if v > 0)
    tot_n = sum(v for v in qn.values() if v > 0)
    print(f"shared query total: n/a  |  suite sums: {tot_o:.1f}s ({len(qo)}q)"
          f" -> {tot_n:.1f}s ({len(qn)}q)")
    shared_o = sum(qo[q] for q in shared if qo[q] > 0 and qn[q] > 0)
    shared_n = sum(qn[q] for q in shared if qo[q] > 0 and qn[q] > 0)
    if shared_o > 0:
        print(f"shared-{len(shared)}-query ratio: {shared_n / shared_o:.3f}x")
    if unexplained:
        print(f"UNEXPLAINED slowdowns: {', '.join(unexplained)}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
