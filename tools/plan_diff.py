#!/usr/bin/env python3
"""Diff two PROBE_EXPLAIN dumps, ignoring what changes on every run.

    python3 tools/plan_diff.py <dirA> <dirB>

Each dir holds one `<query>.txt` formatted plan per catalog entry, as
written by `PROBE_EXPLAIN=<dir> graft.tools.Probe <sfDir> 1 <query...>`.
Before comparing, both sides mask:

  - expression ids (`doc_id#125L` -> `doc_id#N`) and exchange ids
    (`[plan_id=981]`), which Catalyst numbers per session;
  - the application id in app-id-scoped fixture roots
    (`/tmp/graft_bm25index/local-1792383062700/...` -> `.../<app>/...`);
  - the write-unique UUID in part-file names
    (`part-00000-e74b...8bdd.c000` -> `part-00000-<uuid>.c000`).

Prints one line per plan (`identical`, `DIFFERS`, or `only in A/B`),
then a unified diff of each differing plan. Exits 1 when any plan
differs or is missing on one side.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(/tmp/[^/\s]+/)[^/\s]+/"), r"\1<app>/"),
    (re.compile(r"(part-\d+-)[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     r"\1<uuid>"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(d):
    return {n for n in os.listdir(d) if n.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = argv[1], argv[2]
    names_a, names_b = plans(a), plans(b)
    diffs = []
    for name in sorted(names_a | names_b):
        if name not in names_b:
            print(f"{name}: only in A")
            diffs.append(None)
            continue
        if name not in names_a:
            print(f"{name}: only in B")
            diffs.append(None)
            continue
        la, lb = masked(os.path.join(a, name)), masked(os.path.join(b, name))
        if la == lb:
            print(f"{name}: identical")
        else:
            print(f"{name}: DIFFERS")
            diffs.append(difflib.unified_diff(la, lb, f"A/{name}", f"B/{name}"))
    for d in diffs:
        if d is not None:
            sys.stdout.writelines(d)
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
