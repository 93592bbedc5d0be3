#!/usr/bin/env python3
"""Compare two directories of plan dumps modulo run identity.

Usage: tools/plan_diff.py <dirA> <dirB>

Both directories hold `.explain("formatted")` dumps, one file per query,
as written by `graft.tools.QExplain <outDir> <suffix> <queries>` (run it
once per checkout with the same suffix). Tokens that name a run rather
than a plan are normalized before the files are compared, as
plans/r18/README.md describes:

- expression ids `name#N`;
- `plan_id=N`;
- JVM lambda classes and object hashes (`Lambda$N/0x...@hex`, `@hex`);
- RDD ids (`MapPartitionsRDD[N]`) and the source line of their call
  site (`at Dedup.scala:659`);
- temp paths (`/tmp/...`) and the warehouse root
  (`file:/.../spark-warehouse/`).

Prints one line per file that differs (or exists on one side only),
followed by a short unified diff of the normalized text. Exits 0 when
every file matches, 1 on any difference, 2 on bad arguments.
"""
import difflib
import pathlib
import re
import sys

RULES = [
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"\$Lambda\$\d+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@H"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.(?:scala|java)):\d+"), r"\1:L"),
    (re.compile(r"file:[^\s,\]\)]*/spark-warehouse/"), "file:<warehouse>/"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "<tmp>"),
]

DIFF_LINES = 40


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def dumps(d):
    return {p.name: p for p in sorted(d.iterdir()) if p.is_file()}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = pathlib.Path(argv[1]), pathlib.Path(argv[2])
    for d in (a, b):
        if not d.is_dir():
            print(f"plan_diff: not a directory: {d}", file=sys.stderr)
            return 2
    fa, fb = dumps(a), dumps(b)
    differ = 0
    for name in sorted(set(fa) | set(fb)):
        if name not in fa or name not in fb:
            print(f"only in {b if name in fb else a}: {name}")
            differ += 1
            continue
        ta = normalize(fa[name].read_text(encoding="utf-8")).splitlines()
        tb = normalize(fb[name].read_text(encoding="utf-8")).splitlines()
        if ta == tb:
            continue
        differ += 1
        print(f"differs: {name}")
        diff = list(difflib.unified_diff(ta, tb, str(fa[name]), str(fb[name]), n=1, lineterm=""))
        for line in diff[:DIFF_LINES]:
            print("  " + line)
        if len(diff) > DIFF_LINES:
            print(f"  ... {len(diff) - DIFF_LINES} more diff lines")
    total = len(set(fa) | set(fb))
    print(f"plan_diff: {total - differ}/{total} files match")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
