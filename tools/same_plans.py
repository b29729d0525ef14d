#!/usr/bin/env python3
"""Compare the plan dumps and oracle SQL of two checkouts.

Usage: python3 tools/same_plans.py <parentDir> <changeDir>

Each directory may hold:
  - `graft.Diag --plans <dir> <suffix> q...` output: one `<q>_<suffix>.txt`
    formatted plan per query plus `<q>_<suffix>_matN.txt` per Checkpoints
    materialization. Files are paired by name, so give both runs the same
    suffix.
  - `oracle_sql.json` (as `graft.Verify` writes it): compared query by
    query after whitespace normalization.

Plans are compared after masking what differs between two runs of one
plan: expression ids (`#123L`), `plan_id=`, RDD ids (`RDD[45]`), source
line numbers in RDD call sites, the machine path in front of the layout
catalog (`.../graft_layouts/`), other `file:` paths, and the location
hash in catalog table names (`graft_postings_<16 hex>`).

Prints one line per difference; the exit code is the number of
differences (capped at 255), so 0 means identical.
"""
import json
import os
import re
import sys

PLAN_MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"file:\S*?/graft_layouts/"), "<layouts>/"),
    (re.compile(r"file:[^\s,\]\)]+"), "file:<path>"),
    (re.compile(r"\b(graft_[a-z_]+?)_[0-9a-f]{16}\b"), r"\1_<hash>"),
]


def mask_plan(text):
    for pat, rep in PLAN_MASKS:
        text = pat.sub(rep, text)
    return text


def norm_sql(sql):
    """Collapse whitespace runs, then drop spaces next to ( ) and ,."""
    sql = re.sub(r"\s+", " ", sql).strip()
    return re.sub(r"\s*([(),])\s*", r"\1", sql)


def plan_files(d):
    return {f for f in os.listdir(d) if f.endswith(".txt")}


def compare(parent, change):
    diffs = []
    pa, ch = plan_files(parent), plan_files(change)
    for f in sorted(pa ^ ch):
        diffs.append(f"plan {f}: only in {'parent' if f in pa else 'change'}")
    for f in sorted(pa & ch):
        with open(os.path.join(parent, f)) as a, open(os.path.join(change, f)) as b:
            la, lb = mask_plan(a.read()).splitlines(), mask_plan(b.read()).splitlines()
        if la != lb:
            first = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y),
                         min(len(la), len(lb)))
            diffs.append(f"plan {f}: differs from line {first + 1}")
    sqls = [os.path.join(d, "oracle_sql.json") for d in (parent, change)]
    present = [os.path.exists(p) for p in sqls]
    if any(present) and not all(present):
        diffs.append("oracle_sql.json: only in "
                     + ("parent" if present[0] else "change"))
    elif all(present):
        with open(sqls[0]) as a, open(sqls[1]) as b:
            oa, ob = json.load(a), json.load(b)
        for q in sorted(set(oa) ^ set(ob)):
            diffs.append(f"sql {q}: only in {'parent' if q in oa else 'change'}")
        for q in sorted(set(oa) & set(ob)):
            if norm_sql(oa[q]) != norm_sql(ob[q]):
                diffs.append(f"sql {q}: differs")
    return diffs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    diffs = compare(sys.argv[1], sys.argv[2])
    for d in diffs:
        print(d)
    print(f"{len(diffs)} difference(s)")
    sys.exit(min(len(diffs), 255))


if __name__ == "__main__":
    main()
