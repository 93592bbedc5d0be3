#!/usr/bin/env python3
"""Compare a BENCH JSON artifact against the newest per-query table in
BASELINE.md and flag regressions.

Usage: python3 tools/compare_bench.py BENCH_rN.json [ratio]
       python3 tools/compare_bench.py --probe NEW_probe.json OLD_probe.json [ratio]

--probe diffs two ScaleProbe artifacts: reports per-query time ratios
(flagging > ratio), row-count drift, and any ok=false entries in
either artifact (a probe with failures exits 1 regardless of timing).

The baseline is the last fenced code block in BASELINE.md (the most
recent round's "name seconds" table, three pairs per line). A query is
flagged when bench/baseline > ratio (default 2.0 — the grading bar).
Queries new since the baseline table are listed informationally, never
flagged. A query the bench lists in "failed" (it threw) has no timing
and always fails the comparison. Exit 1 iff any query is flagged or
failed, so this can gate a script.

With the min-of-2 bench artifact, a flag here is a REAL plan change,
not positional contention — check the JSON's raw_passes to confirm
both passes are slow before hunting a regression.
"""
import json
import re
import sys
from pathlib import Path


def load_baseline(path):
    blocks = re.findall(r"```\n(.*?)```", Path(path).read_text(), re.S)
    table = {}
    for line in blocks[-1].splitlines():
        for name, sec in re.findall(r"(\S+)\s+(\d+\.\d+)", line):
            table[name] = float(sec)
    return table


def failed_queries(doc):
    """The bench line's "failed" list; a driver-written artifact keeps
    only a tail of the line, so recover the list from it there."""
    if isinstance(doc.get("failed"), list):
        return doc["failed"]
    m = re.search(r'"failed":\[([^\]]*)\]', doc.get("tail", ""))
    return re.findall(r'"([^"]+)"', m.group(1)) if m else []


def compare_probes(new_path, old_path, ratio):
    new = json.loads(Path(new_path).read_text())
    old = json.loads(Path(old_path).read_text())
    nq, oq = new["queries"], old["queries"]
    print(f"probe {new_path} (n={new.get('n')}, dup={new.get('dup')}) vs "
          f"{old_path} (n={old.get('n')}, dup={old.get('dup')})")
    failed = [(n, r) for n, r in {**oq, **nq}.items()
              if not (nq.get(n, oq.get(n)))["ok"]]
    for n, r in sorted(failed):
        print(f"  FAILED {n}: {r.get('error', '?')}")
    flagged = []
    for name in sorted(nq):
        r = nq[name]
        if name not in oq:
            print(f"  new (no counterpart): {name} {r['sec']:.2f}s rows={r['rows']}")
            continue
        o = oq[name]
        if not (r["ok"] and o["ok"]):
            continue
        rr = r["sec"] / o["sec"] if o["sec"] > 0 else float("inf")
        drift = "" if r["rows"] == o["rows"] else f"  rows {o['rows']} -> {r['rows']}"
        mark = " FLAG" if rr > ratio else ""
        if mark or drift:
            flagged += [name] if mark else []
            print(f"  {name}: {o['sec']:.2f}s -> {r['sec']:.2f}s ({rr:.2f}x){drift}{mark}")
    ok_new = [n for n in nq if nq[n]["ok"] and n in oq and oq[n]["ok"]]
    tn = sum(nq[n]["sec"] for n in ok_new)
    to = sum(oq[n]["sec"] for n in ok_new)
    if to > 0:
        print(f"total {tn:.1f}s vs {to:.1f}s ({tn / to:.2f}x) over {len(ok_new)} shared ok queries")
    sys.exit(1 if flagged or failed else 0)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    if sys.argv[1] == "--probe":
        if len(sys.argv) < 4:
            sys.exit(__doc__)
        compare_probes(sys.argv[2], sys.argv[3],
                       float(sys.argv[4]) if len(sys.argv) > 4 else 2.0)
        return
    doc = json.loads(Path(sys.argv[1]).read_text())
    if isinstance(doc.get("parsed"), dict) and "queries" in doc["parsed"]:
        # driver-parsed compact bench line (short keys since round 9)
        doc = doc["parsed"]
    failed = failed_queries(doc)
    if "queries" in doc:
        bench = doc["queries"]
    else:
        # driver-written BENCH_rN.json keeps only a truncated "tail" of
        # the bench line — recover whole "name":seconds pairs from it
        # (raw_passes arrays don't match the scalar pattern)
        bench = {m[0]: float(m[1]) for m in
                 re.findall(r'"(\w+)":(\d+\.\d+)[,}]', doc.get("tail", ""))
                 if m[0] not in ("value", "n", "dup", "datagen_sec")}
        if bench and "short_names" in doc.get("tail", ""):
            doc["short_names"] = True
        if not bench:
            # tail may hold only the raw_passes arrays ("name":[a,b]) —
            # the reported number is the min of the warm passes
            bench = {m[0]: min(float(x) for x in m[1].split(",")) for m in
                     re.findall(r'"(\w+)":\[([\d.,]+)\]', doc.get("tail", ""))}
        if not bench and not failed:
            sys.exit(f"no per-query numbers found in {sys.argv[1]}")
    ratio = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    base = load_baseline(Path(__file__).resolve().parent.parent / "BASELINE.md")

    if doc.get("short_names"):
        # Bench's compact artifact line shortens each query name to its
        # first '_'-token (two tokens on collision) so all ~89 entries fit
        # the driver's 2000-char tail; re-expand against the full names in
        # BASELINE.md's newest table. An unmatched short name (query newer
        # than the baseline table) is kept as-is and reported "new".
        expanded = {}
        for name, sec in bench.items():
            hits = [f for f in base if f == name or f.startswith(name + "_")]
            expanded[hits[0] if len(hits) == 1 else name] = sec
        bench = expanded

    flagged, new = [], []
    for name, sec in sorted(bench.items()):
        if name not in base:
            new.append(name)
        elif sec > base[name] * ratio:
            flagged.append((name, sec, base[name]))

    total = sum(bench.values())
    base_total = sum(base[n] for n in bench if n in base)
    if base_total > 0:
        print(f"total {total:.1f}s vs baseline {base_total:.1f}s "
              f"({total / base_total:.2f}x) over {len(bench)} queries")
    else:
        print(f"total {total:.1f}s over {len(bench)} queries "
              f"(no overlap with baseline table)")
    for name in new:
        print(f"  new (no baseline): {name} {bench[name]:.2f}s")
    for name, sec, b in flagged:
        print(f"  FLAG {name}: {sec:.2f}s vs baseline {b:.2f}s ({sec / b:.1f}x)")
    for name in failed:
        print(f"  FAILED {name}: threw during the bench, no timing")
    if not flagged:
        print(f"  all timed queries within {ratio}x of baseline")
    sys.exit(1 if flagged or failed else 0)


if __name__ == "__main__":
    main()
