#!/usr/bin/env python3
"""Size counters for the main source tree.

Prints what each CHANGES.md entry reports about size:
  - lines under src/main/scala, in total and per package directory;
  - `private[graft] var` / `@volatile` lines (mutable globals);
  - `sys.props` / `sys.env` reads;
  - Boolean parameters with a default (`: Boolean = true|false`), the
    count of independently settable on/off options;
  - distinct `spark.graft.*` configuration keys;
  - with --files N, the N largest files under src/main/scala.

    python3 tools/size.py                      # this checkout
    python3 tools/size.py --base /tmp/parent   # and the delta against
                                               # an export of the parent
                                               # (git archive <rev> | tar -x -C /tmp/parent)
    python3 tools/size.py --files 10 --base /tmp/parent
"""
import argparse
import os
import re
import sys

MUTABLE = re.compile(r"private\[graft\] var|@volatile")
SYS_READ = re.compile(r"\bsys\.(props|env)\b")
BOOL_DEFAULT = re.compile(r":\s*Boolean\s*=\s*(?:true|false)\b")
CONF_KEY = re.compile(r"spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]")


def measure(root):
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        sys.exit(f"size.py: no src/main/scala under {root}")
    packages, files_, mutable, sys_reads, bool_defaults, keys = {}, {}, 0, 0, 0, set()
    for d, _, files in os.walk(src):
        for f in files:
            if not f.endswith(".scala"):
                continue
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                text = fh.read()
            pkg = os.path.relpath(d, src)
            packages[pkg] = packages.get(pkg, 0) + text.count("\n")
            files_[os.path.join(pkg, f)] = text.count("\n")
            for line in text.splitlines():
                mutable += bool(MUTABLE.search(line))
                sys_reads += len(SYS_READ.findall(line))
                bool_defaults += len(BOOL_DEFAULT.findall(line))
            keys.update(CONF_KEY.findall(text))
    return {
        "lines": sum(packages.values()),
        "packages": packages,
        "files": files_,
        "mutable": mutable,
        "sys_reads": sys_reads,
        "bool_defaults": bool_defaults,
        "keys": keys,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="a checkout or export of the parent to diff against")
    ap.add_argument("--root", default=os.path.join(os.path.dirname(__file__), ".."),
                    help="the checkout to measure (default: this repo)")
    ap.add_argument("--files", type=int, default=0, metavar="N",
                    help="also print the N largest files under src/main/scala")
    args = ap.parse_args()
    cur = measure(args.root)
    base = measure(args.base) if args.base else None

    def row(name, here, there=None):
        if base is None:
            print(f"{name:<40} {here:>8}")
        else:
            print(f"{name:<40} {there:>8} {here:>8} {here - there:>+8}")

    if base is not None:
        print(f"{'':<40} {'base':>8} {'this':>8} {'delta':>8}")
    row("src/main/scala lines", cur["lines"], base and base["lines"])
    for pkg in sorted(set(cur["packages"]) | set(base["packages"] if base else ())):
        row("  " + pkg, cur["packages"].get(pkg, 0),
            base and base["packages"].get(pkg, 0))
    if args.files > 0:
        print(f"largest {args.files} files")
        for f in sorted(cur["files"], key=lambda f: (-cur["files"][f], f))[:args.files]:
            row("  " + f, cur["files"][f], base and base["files"].get(f, 0))
    row("private[graft] var / @volatile lines", cur["mutable"], base and base["mutable"])
    row("sys.props / sys.env reads", cur["sys_reads"], base and base["sys_reads"])
    row("Boolean parameters with a default", cur["bool_defaults"],
        base and base["bool_defaults"])
    row("spark.graft.* keys", len(cur["keys"]), base and len(base["keys"]))
    for k in sorted(cur["keys"] - (base["keys"] if base else set())):
        print(f"  + {k}")
    for k in sorted((base["keys"] if base else set()) - cur["keys"]):
        print(f"  - {k}")


if __name__ == "__main__":
    main()
