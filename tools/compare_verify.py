#!/usr/bin/env python3
"""Compare two graft.Verify dumps of the same data, for a refactor that must
change no output.

Usage: python3 tools/compare_verify.py <parentOut> <changeOut>

Exits 0 only when
  - the two oracle_sql.json files are byte-equal (and so are the two
    artifacts.json files),
  - both out-dirs hold the same set of gate outputs (top-level directories),
  - every gate's Spark output is the same multiset of rows: DuckDB's
    EXCEPT ALL over read_parquet is empty in both directions, after the
    column names and types matched.
Prints one status line per gate (SAME, DIFF, ONLY-PARENT, ONLY-CHANGE,
ERROR), then a summary. When the two oracle_sql.json files differ, it also
prints one line per oracle key that is missing on either side or whose SQL
differs, with the first differing character offset.

The dumps must come from the same out-dir path: the model exports are
spliced into the oracle SQL by absolute path. Dump the parent into a path,
move it aside, then dump the change into the same path.
"""
import json
import os
import sys

import duckdb


def read_bytes(path):
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def oracle_diff(parent_bytes, change_bytes):
    """One line per oracle key missing on either side or whose SQL differs
    between two oracle_sql.json dumps."""
    try:
        pa, ch = json.loads(parent_bytes), json.loads(change_bytes)
    except ValueError as e:
        return [f"  oracle_sql.json does not parse: {e}"]
    lines = []
    for key in sorted(pa.keys() | ch.keys()):
        if key not in ch:
            lines.append(f"  ORACLE ONLY-PARENT {key}")
        elif key not in pa:
            lines.append(f"  ORACLE ONLY-CHANGE {key}")
        elif pa[key] != ch[key]:
            a, b = pa[key], ch[key]
            at = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
            lines.append(f"  ORACLE DIFF {key}: first difference at offset {at} "
                         f"({len(a)} vs {len(b)} chars)")
    return lines


def gates(out_dir):
    return {e.name for e in os.scandir(out_dir) if e.is_dir()}


def compare_rows(con, a, b):
    """None when the two parquet sets hold the same multiset of rows, else
    the reason they differ."""
    src_a = f"read_parquet('{a}/*.parquet')"
    src_b = f"read_parquet('{b}/*.parquet')"
    schema_a = con.execute(f"DESCRIBE SELECT * FROM {src_a}").fetchall()
    schema_b = con.execute(f"DESCRIBE SELECT * FROM {src_b}").fetchall()
    cols_a = [(r[0], r[1]) for r in schema_a]
    cols_b = [(r[0], r[1]) for r in schema_b]
    if cols_a != cols_b:
        return f"schema parent={cols_a} change={cols_b}"
    only_a = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {src_a} EXCEPT ALL SELECT * FROM {src_b})").fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {src_b} EXCEPT ALL SELECT * FROM {src_a})").fetchone()[0]
    if only_a or only_b:
        return f"{only_a} rows only in parent, {only_b} only in change"
    return None


def main(parent, change):
    ok = True
    for name in ("oracle_sql.json", "artifacts.json"):
        pa, ch = read_bytes(f"{parent}/{name}"), read_bytes(f"{change}/{name}")
        if pa is None or ch is None:
            print(f"MISSING  {name}: parent={pa is not None} change={ch is not None}")
            ok = False
        elif pa != ch:
            print(f"DIFF     {name}: {len(pa)} vs {len(ch)} bytes")
            if name == "oracle_sql.json":
                for line in oracle_diff(pa, ch):
                    print(line)
            ok = False
        else:
            print(f"SAME     {name} ({len(pa)} bytes)")
    gp, gc = gates(parent), gates(change)
    con = duckdb.connect()
    n_same = 0
    for g in sorted(gp | gc):
        if g not in gc:
            print(f"ONLY-PARENT {g}")
            ok = False
            continue
        if g not in gp:
            print(f"ONLY-CHANGE {g}")
            ok = False
            continue
        try:
            why = compare_rows(con, f"{parent}/{g}", f"{change}/{g}")
        except duckdb.Error as e:
            why = f"error: {str(e).splitlines()[0]}"
            print(f"ERROR    {g}: {why}")
            ok = False
            continue
        if why is None:
            print(f"SAME     {g}")
            n_same += 1
        else:
            print(f"DIFF     {g}: {why}")
            ok = False
    print(f"{n_same}/{len(gp | gc)} gates equal; "
          f"{'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
