#!/usr/bin/env python3
"""Scan 'formatted' plan dumps for total-order sorts whose range
exchange sits directly over a narrow (shuffle-free) compute chain — the
shape whose child the range sampler re-executes wholesale (r16 batch A).

Input: a directory of `<query>_<suffix>.txt` files, each one query's
`explain("formatted")` text, as written by

    SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Dev plan <dir> <suffix> <query...>"

For each plan file: find Exchange nodes whose details say
rangepartitioning, then inspect the header tree's subtree below that
node. Flag the query when the subtree contains NO other Exchange, NO
InMemoryTableScan/InMemoryRelation (already cached), NO
BroadcastExchange boundary and none of the other blockers below (joins,
aggregates, windows, row-multiplying Generate/Expand, a recursive
UnionLoop) — i.e. the whole chain recomputes at sampling time. Prints:
query, the subtree's operator list (compressed).

Usage: python3 tools/scan_rangesort.py <plan dir>
"""
import re
import sys
import os

plan_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r16"

for fn in sorted(os.listdir(plan_dir)):
    if not fn.endswith(".txt"):
        continue
    text = open(os.path.join(plan_dir, fn)).read()
    # header tree: lines up to the first blank line after "== Physical Plan =="
    lines = text.splitlines()
    tree = []
    for ln in lines[1:]:
        if not ln.strip():
            break
        tree.append(ln)
    # find range exchange ids from the details section
    range_ids = set(re.findall(
        r"\((\d+)\) Exchange\b[\s\S]{0,400}?rangepartitioning", text))
    if not range_ids:
        continue
    # parse header tree into (depth, opname, id); depth is the column of
    # the tree decoration alone, so a whole-stage-codegen marker
    # (`+- * HashAggregate (5)`) neither hides the node nor shifts it
    # below its siblings, and catalog names (`graft_shared_...`) parse
    nodes = []
    for ln in tree:
        m = re.match(
            r"^([\s:+-]*)(?:\*\s)?([A-Za-z][A-Za-z0-9._ ]*?)\s*\((\d+)\)", ln)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(), m.group(3)))
    for i, (d, op, nid) in enumerate(nodes):
        if op != "Exchange" or nid not in range_ids:
            continue
        # subtree: following nodes with depth > d until depth <= d
        sub = []
        for d2, op2, nid2 in nodes[i + 1:]:
            if d2 <= d:
                break
            sub.append(op2)
        blockers = [o for o in sub if o in (
            "Exchange", "BroadcastExchange", "InMemoryTableScan",
            "InMemoryRelation", "BroadcastHashJoin", "SortMergeJoin",
            "ShuffledHashJoin", "HashAggregate", "ObjectHashAggregate",
            "SortAggregate", "Window", "AQEShuffleRead", "Generate",
            "Expand", "UnionLoop")]
        if not blockers and sub:
            print(f"{fn.replace('_before.txt','').replace('.txt','')}: "
                  f"map-only above range sort -> {' > '.join(sub[:8])}")
