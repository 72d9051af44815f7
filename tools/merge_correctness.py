"""Merge per-chunk tools/verify_local.py --json records into one
round artifact (the sf10 sweep runs in chunks so partial progress survives
an interrupted box; each chunk file is a {query: record} dict in the same
driver format).

Usage: python tools/merge_correctness.py OUT.json CHUNK.json [CHUNK.json ...]

Later chunks win on key collision (a re-run supersedes). Prints a per-file
and total green/fail summary; exits non-zero if any merged record failed.
"""

from __future__ import annotations

import json
import sys


def _green(rec: dict) -> bool:
    if rec.get("err"):
        return False
    if rec.get("hash_match") is None:  # rows-only query
        return bool(rec.get("rows_match"))
    return bool(rec["rows_match"] and rec["schema_match"] and rec["hash_match"])


def main() -> None:
    out, chunks = sys.argv[1], sys.argv[2:]
    merged: dict[str, dict] = {}
    for path in chunks:
        with open(path) as f:
            recs = json.load(f)
        n_ok = sum(_green(r) for r in recs.values())
        print(f"{path}: {n_ok}/{len(recs)} green")
        merged.update(recs)
    fails = sorted(k for k, r in merged.items() if not _green(r))
    with open(out, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"wrote {out}: {len(merged) - len(fails)}/{len(merged)} green")
    if fails:
        print(f"FAILURES: {fails}")
        sys.exit(1)


if __name__ == "__main__":
    main()
