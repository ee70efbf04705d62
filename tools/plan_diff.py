#!/usr/bin/env python3
"""Compare two `graft.Explain` outputs key by key.

Usage: python3 tools/plan_diff.py BEFORE AFTER

Each input is the captured stdout of
`sbt "runMain graft.Explain <sfDir> <key ...>"`: one
`========== key ==========` header per key, followed by that key's
formatted physical plan. These tokens change from run to run and are
normalized before comparing: expression ids (`#123`), `plan_id=123`,
the identity hash of a JVM array baked into an expression (`[[F@1b2c3d`,
the centroid/codebook arguments of the index kernels), the random
suffix of a temporary directory (`file:/tmp/graft_ckpt_8512...`, a graph
walk's checkpoint) and the round number inside it (`.../r27`, allocated
in whatever order concurrent walks finish), and RDD ids
(`MapPartitionsRDD[484]`, a counter every earlier job advances). sbt's
own tagged log lines (`[info] ...`) are dropped. Prints each key whose plan differs (with a unified diff of the
normalized plans) and each key present on one side only, and exits 1 if
anything differs, 0 otherwise.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^=+ (\S+) =+$")
SBT_TAG = re.compile(r"^\[(info|warn|error|success|debug)\]")
EXPR_ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
ARRAY_HASH = re.compile(r"(\[+[BCDFIJSZ])@[0-9a-f]+")
TMP_SUFFIX = re.compile(r"(file:/\S*?_)\d{9,}(/r)?\d*")
RDD_ID = re.compile(r"(RDD)\[\d+\]")


def normalize(line):
    line = EXPR_ID.sub("#N", line.rstrip())
    line = PLAN_ID.sub("plan_id=N", line)
    line = ARRAY_HASH.sub(r"\1@H", line)
    line = RDD_ID.sub(r"\1[N]", line)
    return TMP_SUFFIX.sub(lambda m: m.group(1) + "N" + ("/rN" if m.group(2) else ""), line)


def split_plans(text):
    """Map each key to its normalized plan lines (blank edges trimmed)."""
    plans, key = {}, None
    for raw in text.splitlines():
        m = HEADER.match(raw.strip())
        if m:
            key = m.group(1)
            plans[key] = []
        elif key is not None and not SBT_TAG.match(raw):
            plans[key].append(normalize(raw))
    for lines in plans.values():
        while lines and not lines[-1]:
            lines.pop()
        while lines and not lines[0]:
            lines.pop(0)
    return plans


def diff_plans(before, after):
    """(differing keys with their diff lines, keys on one side only)."""
    changed = []
    for key in before:
        if key in after and before[key] != after[key]:
            changed.append((key, list(difflib.unified_diff(
                before[key], after[key], "before", "after", lineterm=""))))
    one_side = sorted(set(before) ^ set(after))
    return changed, one_side


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        before = split_plans(f.read())
    with open(argv[2]) as f:
        after = split_plans(f.read())
    changed, one_side = diff_plans(before, after)
    for key, lines in changed:
        print(f"DIFF {key}")
        print("\n".join(lines))
    for key in one_side:
        print(f"ONLY {'BEFORE' if key in before else 'AFTER'} {key}")
    same = sum(1 for k in before if k in after) - len(changed)
    print(f"{same} identical, {len(changed)} differ, {len(one_side)} on one side only")
    return 1 if changed or one_side else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
