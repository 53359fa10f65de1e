#!/usr/bin/env python3
"""Compare the scale-smoke logs of two trees, family by family.

Usage:
  python3 tools/smokediff.py PARENT.log CHANGE.log > scale_smokes.txt

Each log holds the output of one or more `*ScaleSmoke` mains (the
families are told apart by their `<TAG>_SMOKE` prefixes, so the five
logs of one side may be concatenated). Per family it prints the check
and ok counts of both sides, both RESULT lines, the per-scale result
lines, and the check lines left unmatched once every number is masked:
each unmatched change line is paired with the unmatched parent line it
most resembles, so a reworded gate shows next to the line it replaced.
"""
import difflib
import re
import sys

LINE = re.compile(r"^([A-Z]+)_SMOKE(_CHECK|_RESULT|_LM| scale=)")
SBT_PREFIX = re.compile(r"^\[info\] ")  # `sbt runMain` prefixes forked stdout
NUMBER = re.compile(r"\d+(\.\d+)?")


def read(path):
    """{family: {"check": [...], "result": [...], "scale": [...]}}"""
    fams = {}
    for raw in open(path, errors="replace"):
        line = SBT_PREFIX.sub("", raw.rstrip("\n"))
        m = LINE.match(line)
        if not m:
            continue
        kind = {"_CHECK": "check", "_RESULT": "result"}.get(m.group(2), "scale")
        fams.setdefault(m.group(1), {"check": [], "result": [], "scale": []})[kind].append(line)
    return fams


def mask(line):
    return NUMBER.sub("#", line)


def unmatched(a, b):
    """Lines of `a` whose masked form is not matched in `b` (multisets)."""
    pool = {}
    for line in b:
        pool[mask(line)] = pool.get(mask(line), 0) + 1
    out = []
    for line in a:
        k = mask(line)
        if pool.get(k, 0):
            pool[k] -= 1
        else:
            out.append(line)
    return out


def pair(parent, change):
    """Greedy best-resemblance pairing; leftovers pair with None."""
    def body(line):
        return line.split(" ", 2)[-1]
    scored = sorted(
        ((difflib.SequenceMatcher(None, mask(body(p)), mask(body(c))).ratio(),
          difflib.SequenceMatcher(None, body(p), body(c)).ratio(), i, j)
         for i, p in enumerate(parent) for j, c in enumerate(change)),
        reverse=True)
    used_p, used_c, pairs = set(), set(), []
    for _, _, i, j in scored:
        if i not in used_p and j not in used_c:
            used_p.add(i)
            used_c.add(j)
            pairs.append((parent[i], change[j]))
    pairs += [(p, None) for i, p in enumerate(parent) if i not in used_p]
    pairs += [(None, c) for j, c in enumerate(change) if j not in used_c]
    return pairs


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    parent, change = read(argv[1]), read(argv[2])
    for fam in sorted(set(parent) | set(change)):
        p = parent.get(fam, {"check": [], "result": [], "scale": []})
        c = change.get(fam, {"check": [], "result": [], "scale": []})

        def counts(side):
            ok = sum(1 for line in side["check"] if "_SMOKE_CHECK ok" in line)
            return f"{len(side['check'])} check lines ({ok} ok)"
        print(f"## {fam}: parent {counts(p)}, change {counts(c)}")
        for label, side in (("parent", p), ("change", c)):
            for line in side["result"] or ["(no RESULT line)"]:
                print(f"{label}: {line}")
        only_p, only_c = unmatched(p["check"], c["check"]), unmatched(c["check"], p["check"])
        print(f"DIFF (masked): {len(only_p)} parent-only, {len(only_c)} change-only")
        for a, b in pair(only_p, only_c):
            print(f"  parent: {a if a is not None else '(none)'}")
            print(f"  change: {b if b is not None else '(none)'}")
        for label, side in (("parent", p), ("change", c)):
            for line in side["scale"]:
                print(f"  {label}: {line}")
        print()


if __name__ == "__main__":
    main(sys.argv)
