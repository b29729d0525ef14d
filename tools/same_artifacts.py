#!/usr/bin/env python3
"""Compare two layout-catalog roots table by table.

Usage: python3 tools/same_artifacts.py <rootA> <rootB> [kind ...]

A root is a `GRAFT_LAYOUT_ROOT` (for example one a cold `graft.Ingest`
published): `<root>/<kind>/<artifact>/<table>/` holding parquet files.
Artifacts pair up by name with the trailing corpus fingerprint
(`_<16 hex>`) stripped, so roots built over two copies of one corpus
still compare. Given kinds (`edges_v5 lexical_v4 ...`), only those are
compared; otherwise every kind found in either root.

For every table of every published artifact (`.tmp_*` builds are
skipped) it compares:
  - the data file count, and the file names with the write's UUID
    masked (part and bucket numbers stay);
  - the bucket count a bucketed table records in `_buckets`;
  - the arrow schema: column names, types and nullability;
  - the rows of each file in file order, decoded with pyarrow, so the
    parquet footer's encoding-list order (which differs between JVMs)
    does not count.

Prints one line per differing table and a summary. The exit code is the
number of differing tables (a table present in one root only counts),
capped at 255.
"""
import os
import re
import sys

import pyarrow.parquet as pq

FP = re.compile(r"_[0-9a-f]{16}$")
UUID = re.compile(r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def artifacts(root, kinds):
    """{(kind, artifact name without fingerprint): path}"""
    out = {}
    if not os.path.isdir(root):
        sys.exit(f"not a directory: {root}")
    for kind in sorted(os.listdir(root)):
        kdir = os.path.join(root, kind)
        if not os.path.isdir(kdir) or (kinds and kind not in kinds):
            continue
        for art in sorted(os.listdir(kdir)):
            adir = os.path.join(kdir, art)
            if art.startswith(".tmp_") or not os.path.isfile(os.path.join(adir, "_meta")):
                continue
            out[(kind, FP.sub("", art))] = adir
    return out


def tables(adir):
    return sorted(t for t in os.listdir(adir)
                  if os.path.isdir(os.path.join(adir, t)))


def describe(tdir):
    """Everything compared about one table, as plain values."""
    files = sorted((f for f in os.listdir(tdir)
                    if f.endswith(".parquet") and not f.startswith(("_", "."))),
                   key=lambda f: UUID.sub("", f))
    bpath = os.path.join(tdir, "_buckets")
    buckets = open(bpath).read().strip() if os.path.isfile(bpath) else None
    parts = []
    for f in files:
        t = pq.read_table(os.path.join(tdir, f))
        schema = [(fl.name, str(fl.type), fl.nullable) for fl in t.schema]
        parts.append((UUID.sub("", f), schema, t.to_pylist()))
    return len(files), buckets, parts


def diff(a, b):
    """First difference between two table descriptions, or None."""
    (na, ba, pa), (nb, bb, pb) = a, b
    if na != nb:
        return f"file count {na} vs {nb}"
    if ba != bb:
        return f"_buckets {ba} vs {bb}"
    for (fa, sa, ra), (fb, sb, rb) in zip(pa, pb):
        if fa != fb:
            return f"file {fa} vs {fb}"
        if sa != sb:
            return f"{fa}: schema {sa} vs {sb}"
        if len(ra) != len(rb):
            return f"{fa}: {len(ra)} vs {len(rb)} rows"
        for i, (x, y) in enumerate(zip(ra, rb)):
            if x != y:
                return f"{fa}: row {i} {x} vs {y}"
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    ra, rb, kinds = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    aa, ab = artifacts(ra, kinds), artifacts(rb, kinds)
    n_tables, differing = 0, 0
    for key in sorted(set(aa) | set(ab)):
        kind, art = key
        ta = tables(aa[key]) if key in aa else []
        tb = tables(ab[key]) if key in ab else []
        for t in sorted(set(ta) | set(tb)):
            n_tables += 1
            where = f"{kind}/{art}/{t}"
            if t not in ta or t not in tb:
                d = f"only in {'B' if t not in ta else 'A'}"
            else:
                d = diff(describe(os.path.join(aa[key], t)),
                         describe(os.path.join(ab[key], t)))
            if d:
                differing += 1
                print(f"DIFF {where}: {d}")
    print(f"{n_tables} tables in {len(set(aa) | set(ab))} artifacts, "
          f"{differing} differing")
    sys.exit(min(differing, 255))


if __name__ == "__main__":
    main()
