#!/usr/bin/env python3
"""Compare two graft.Bench runs, for a change that must keep what the bench
runs and what its entries compute.

Usage: python3 tools/compare_bench.py <parent bench.json> <change bench.json>
                                      [<parent stderr log> <change stderr log>]

Exits 0 only when
  - both runs have the same entry set (the keys of "queries" plus "failed"),
  - both have the same "failed" list,
  - both have the same receipt keys,
  - and, when the two stderr logs are given, every entry's result lines carry
    the same counts: each `[bench] <entry> ...` line is reduced to its
    `key=value` tokens (pairs=, admitted=, releases=, ...) with every decimal
    number masked as `#`, since timings vary from run to run while counts
    must not. Lines of the harness itself (failures, warm-up, scaling,
    RECEIPT BAD) are not result lines; failures are compared through
    "failed".
Prints one status line per difference and per compared entry, then a
summary. Timings are not compared.
"""
import collections
import json
import re
import sys

HARNESS_WORDS = {"query", "warmup", "full", "scaling"}
TOKEN = re.compile(r"(\w+)=(\S+)")
DECIMAL = re.compile(r"-?\d+\.\d+")
LINE = re.compile(r"^\[bench\] ([a-z0-9_]+) (.*)$")


def load(path):
    with open(path) as f:
        j = json.load(f)
    entries = set(j.get("queries", {})) | set(j.get("failed", []))
    return entries, sorted(j.get("failed", [])), set(j.get("receipts", {}))


def result_tokens(log_path):
    """Per leading word of a `[bench]` result line: the sorted masked
    key=value tokens of all its lines."""
    tokens = collections.defaultdict(list)
    with open(log_path, errors="replace") as f:
        for line in f:
            m = LINE.match(line.rstrip("\n"))
            if not m or m.group(1) in HARNESS_WORDS:
                continue
            for key, value in TOKEN.findall(m.group(2)):
                tokens[m.group(1)].append(f"{key}={DECIMAL.sub('#', value)}")
    return {k: sorted(v) for k, v in tokens.items()}


def diff_sets(what, parent, change):
    lines = [f"ONLY-PARENT {what} {x}" for x in sorted(parent - change)]
    lines += [f"ONLY-CHANGE {what} {x}" for x in sorted(change - parent)]
    return lines


def main(parent_json, change_json, parent_log=None, change_log=None):
    pe, pf, pr = load(parent_json)
    ce, cf, cr = load(change_json)
    problems = diff_sets("entry", pe, ce) + diff_sets("receipt", pr, cr)
    if pf != cf:
        problems.append(f"DIFF failed: parent={pf} change={cf}")
    n_lines = 0
    if parent_log and change_log:
        pt, ct = result_tokens(parent_log), result_tokens(change_log)
        for name in sorted(pt.keys() | ct.keys()):
            a, b = pt.get(name, []), ct.get(name, [])
            if a == b:
                print(f"SAME     {name}: {' '.join(a)}")
                n_lines += 1
            else:
                problems.append(f"DIFF     {name}: parent {' '.join(a)} | change {' '.join(b)}")
    for p in problems:
        print(p)
    print(f"{len(pe | ce)} entries, {len(pr | cr)} receipts, failed {cf}; "
          f"{n_lines} result-line sets equal; {'PASS' if not problems else 'FAIL'}")
    return 0 if not problems else 1


if __name__ == "__main__":
    if len(sys.argv) not in (3, 5):
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
