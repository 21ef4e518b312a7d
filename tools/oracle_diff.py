#!/usr/bin/env python3
"""Compare two Verify oracle dumps key by key.

Usage: python3 tools/oracle_diff.py <parent oracle_sql.json> <change oracle_sql.json>

For each key of the parent's dump it prints one of:
  identical        the SQL strings are equal
  whitespace-only  equal after canonicalization: whitespace runs outside
                   '...' literals collapsed to one space, then trimmed
                   (the form OracleTextSpec hashes; the spec checks
                   that this script's `canonical` agrees with its own)
  changed          the canonical forms differ
  missing          the key is absent from the change's dump
Keys only the change has print as `added`. Exits 1 when any key is
`changed` or `missing`, else 0: an edit to how oracles are assembled must
leave what DuckDB runs as it was.
"""
import json
import sys

WHITESPACE = " \t\n\r\f"


def canonical(sql: str) -> str:
    out = []
    in_lit = False
    pending_space = False
    for c in sql:
        if not in_lit and c in WHITESPACE:
            pending_space = True
            continue
        if pending_space and out:
            out.append(" ")
        pending_space = False
        if c == "'":
            in_lit = not in_lit
        out.append(c)
    return "".join(out)


def verdict(parent: str, change) -> str:
    if change is None:
        return "missing"
    if parent == change:
        return "identical"
    if canonical(parent) == canonical(change):
        return "whitespace-only"
    return "changed"


def main(parent_path: str, change_path: str) -> int:
    with open(parent_path) as f:
        parent = json.load(f)
    with open(change_path) as f:
        change = json.load(f)
    counts = {}
    for key in sorted(parent):
        v = verdict(parent[key], change.get(key))
        counts[v] = counts.get(v, 0) + 1
        print(f"{key}\t{v}")
    for key in sorted(set(change) - set(parent)):
        counts["added"] = counts.get("added", 0) + 1
        print(f"{key}\tadded")
    print(", ".join(f"{n} {v}" for v, n in sorted(counts.items())))
    return 1 if counts.get("changed") or counts.get("missing") else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
