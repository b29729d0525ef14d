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
catalog (`.../graft_layouts/`), other `file:` paths, the location hash
in catalog table names (`graft_postings_<16 hex>`), the identity hash
of an aggregator object (`TopKAggregator@1f6b8c1f`) and the JVM's name
for a lambda (`$Lambda$6893/0x00007fa9f58fb958@7c81f0f3`). Before masking,
each `Expand` that Spark's distinct-aggregate rewrite plants is put in a
canonical order: the rewrite orders its distinct groups by expression
hash, which changes from run to run, so two runs of one plan can number
the groups (`gid`) and list their columns differently. The groups are
sorted by their masked column names and renumbered, and the new order is
carried into the `gid = k` filters and the column lists that follow.

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
    (re.compile(r"(\.[A-Z]\w*)@[0-9a-f]+\b"), r"\1@<obj>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
]


def mask_plan(text):
    text = canon_expands(text)
    for pat, rep in PLAN_MASKS:
        text = pat.sub(rep, text)
    return text


def mask_names(text):
    for pat, rep in PLAN_MASKS:
        text = pat.sub(rep, text)
    return text


def split_top(s):
    """Split a comma-separated list at bracket depth 0."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


def canon_expands(text):
    """Canonical group order for every distinct-aggregate `Expand`."""
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if not re.match(r"\(\d+\) Expand\b", line):
            continue
        j = next((k for k in range(i + 1, len(lines))
                  if lines[k].startswith("Arguments: ")), None)
        if j is None:
            continue
        projs_s, out_s = split_top(lines[j][len("Arguments: "):])[:2]
        projs = [split_top(p[1:-1]) for p in split_top(projs_s[1:-1])]
        out = split_top(out_s[1:-1])
        gid = next((k for k, o in enumerate(out) if o.startswith("gid#")), None)
        if gid is None:
            continue
        shared = {k for k in range(len(out)) if all(p[k] != "null" for p in projs)}

        def cols(p):
            return [k for k in range(len(out))
                    if k != gid and k not in shared and p[k] != "null"]
        groups = sorted((p for p in projs if p[gid] != "0"),
                        key=lambda p: [mask_names(out[k]) for k in cols(p)])
        renum = {p[gid]: str(n + 1) for n, p in enumerate(groups)}
        child = sorted({k for p in groups for k in cols(p)})
        canon = list(dict.fromkeys(k for p in groups for k in cols(p)))
        order = list(range(len(out)))
        for slot, k in zip(child, canon):
            order[slot] = k
        new_projs = [[p[k] for k in order] for p in projs if p[gid] == "0"] + \
            [[renum[p[k]] if k == gid else p[k] for k in order] for p in groups]
        lines[j] = ("Arguments: [" + ", ".join("[" + ", ".join(p) + "]" for p in new_projs)
                    + "], [" + ", ".join(out[k] for k in order) + "]")
        old_seq = ", ".join(out[k] for k in child)
        new_seq = ", ".join(out[k] for k in canon)
        gid_ref = re.compile(r"\(" + re.escape(out[gid]) + r" = (\d+)\)")
        for k in range(len(lines)):
            if k != j:
                lines[k] = gid_ref.sub(
                    lambda m: f"({out[gid]} = {renum.get(m.group(1), m.group(1))})",
                    lines[k].replace(old_seq, new_seq))
    return "\n".join(lines)


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
