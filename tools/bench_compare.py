"""Round-over-round bench diff: the analysis CLAUDE.md's benchmarking
protocol prescribes, mechanized.

    python tools/bench_compare.py OLD.json BENCH_DETAIL.json

(OLD: an earlier commit's BENCH_DETAIL.json, or a round record from git
history, e.g. ``git show f9fe9e0:BENCH_r11.json > OLD.json``.)

Accepts either a driver-recorded BENCH_r{N}.json (headline under "parsed")
or a BENCH_DETAIL.json (headline at top level).  Prints: shared-subset
totals (the only comparable aggregate -- query sets grow every round),
top movers beyond the +/-20% noise band, queries only in one side, the
contended list (median/min > 1.5 -- re-run in isolation before calling a
regression), and shuffle-byte deltas where both sides carry them (the
contention-immune signal: a bytes jump is a plan regression even when
wall-clock looks flat).
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    d = json.load(open(path))
    if "parsed" in d:
        d = d["parsed"]
    return d


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    prev, cur = load(sys.argv[1]), load(sys.argv[2])
    pq, cq = prev["queries"], cur["queries"]
    shared = sorted(set(pq) & set(cq))
    pt, ct = sum(pq[q] for q in shared), sum(cq[q] for q in shared)
    print(f"shared subset ({len(shared)} queries): {pt:.1f}s -> {ct:.1f}s ({(ct - pt) / pt * 100:+.1f}%)")
    print(f"only in old: {sorted(set(pq) - set(cq))}")
    print(f"only in new: {sorted(set(cq) - set(pq))}")
    movers = [(cq[q] - pq[q], (cq[q] - pq[q]) / max(pq[q], 1e-9), q) for q in shared]
    big = [m for m in movers if abs(m[1]) > 0.2 and abs(m[0]) > 0.3]
    for d, r, q in sorted(big):
        print(f"  {'improved' if d < 0 else 'REGRESSED'} {q}: {pq[q]:.2f}s -> {cq[q]:.2f}s ({r * 100:+.0f}%)")
    if not big:
        print("  no mover beyond the +/-20% noise band (and 0.3s floor)")
    if cur.get("contended"):
        print(f"contended (re-run in isolation before concluding): {cur['contended']}")
    psw, csw = prev.get("shuffle_write_bytes") or {}, cur.get("shuffle_write_bytes") or {}
    sboth = sorted(set(psw) & set(csw))
    if sboth:
        jumps = [(csw[q] - psw[q], q) for q in sboth if psw[q] > 0 and abs(csw[q] - psw[q]) / psw[q] > 0.25 and abs(csw[q] - psw[q]) > 5_000_000]
        for d, q in sorted(jumps, reverse=True):
            print(f"  shuffle {'JUMP' if d > 0 else 'drop'} {q}: {psw[q] / 1e6:.1f}MB -> {csw[q] / 1e6:.1f}MB")
        if not jumps:
            print(f"shuffle bytes: no >25% move across {len(sboth)} shared queries")


if __name__ == "__main__":
    main()
