#!/usr/bin/env python3
"""Compare two `graft.Explain` outputs key by key.

Usage: python3 tools/plan_diff.py BEFORE AFTER

Each input is the captured stdout of
`sbt "runMain graft.Explain <sfDir> <key ...>"`: one
`========== key ==========` header per key, followed by that key's
formatted physical plan. These tokens change from run to run and are
normalized before comparing: expression ids (`#123`), `plan_id=123`,
the identity hash of a JVM array baked into an expression (`[[F@1b2c3d`,
the centroid/codebook arguments of the index kernels), the class
name and identity hash of a JVM lambda
(`Multimodal$$$Lambda$6868/0x00007f70ad80b000@39821f5d`, a typed
Dataset operator's function, numbered in class-loading order), the random
suffix of a temporary directory (`file:/tmp/graft_ckpt_8512...`, a graph
walk's checkpoint) and the round number inside it (`.../r27`, allocated
in whatever order concurrent walks finish), and RDD ids
(`MapPartitionsRDD[484]`, `VertexRDDImpl[8470]`, a counter every
earlier job advances),
whole-stage codegen ids and query-stage ids (both numbered in the order
stages happen to run), the data-version suffix of a materialized layout
dir (`graft_layouts_<user>/role_sf0.01_f03e707_<version>`, named from the
dataset files' sizes and mtimes, so a copy or a touch of the same data
renames it), and the suffix of a generated lambda variable
(`lambda x_38#N`, from a JVM-wide counter), renumbered within each plan
in order of first appearance so distinct lambdas stay distinct. sbt's
own tagged log lines (`[info] ...`) are dropped.

A cached relation's adaptive plan prints as its final plan once an
earlier action has materialized the cache, and as its initial plan
before that, so one plan has two forms depending on what ran first in
the JVM. Each plan is reduced to the initial form: a `== Final Plan ==`
subtree is dropped with the detail blocks of the operators only it
holds, and operators are renumbered in the order the tree names them.

Prints each key whose plan differs (with a unified diff of the
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
LAMBDA = re.compile(r"(\$Lambda)\S*?@[0-9a-f]+")
TMP_SUFFIX = re.compile(r"(file:/\S*?_)\d{9,}(/r)?\d*")
RDD_ID = re.compile(r"(RDD\w*)\[\d+\]")
CODEGEN_ID = re.compile(r"\[codegen id : \d+\]")
FINAL_FLAG = re.compile(r"isFinalPlan=(true|false)")
NODE_ID = re.compile(r"\((\d+)\)")
DETAIL_HEAD = re.compile(r"^\((\d+)\) (.*)$")
OPERATOR_REF = re.compile(r"(operator id(?: =|:) )(\d+)")
STAGE_ID = re.compile(r"^Arguments: \d+$")
LAYOUT_VERSION = re.compile(r"(graft_layouts_[^/]+/[^/\s\]]+?_[0-9a-f]{1,8})(?:_[0-9a-f]+)+(?=/)")
LAMBDA_VAR = re.compile(r"(lambda [A-Za-z]\w*?_)(\d+)\b")


def normalize(line):
    line = EXPR_ID.sub("#N", line.rstrip())
    line = PLAN_ID.sub("plan_id=N", line)
    line = ARRAY_HASH.sub(r"\1@H", line)
    line = LAMBDA.sub(r"\1@H", line)
    line = RDD_ID.sub(r"\1[N]", line)
    line = CODEGEN_ID.sub("[codegen id : N]", line)
    line = FINAL_FLAG.sub("isFinalPlan=_", line)
    line = LAYOUT_VERSION.sub(r"\1_V", line)
    return TMP_SUFFIX.sub(lambda m: m.group(1) + "N" + ("/rN" if m.group(2) else ""), line)


def collapse_final(lines):
    """(in_tree, line) pairs with each `== Final Plan ==` subtree dropped
    and its `== Initial Plan ==` root put where an unexecuted adaptive
    plan prints its child. Tree lines lose their `:` bars: the tree below
    an executed adaptive plan prints without its parent's bars.
    """
    out, tree, i = [], False, 0
    while i < len(lines):
        line = lines[i]
        if line == "== Physical Plan ==" or line.startswith("Subquery:"):
            out.append((False, line))
            tree = True
            i += 1
            continue
        if not line:
            tree = False
        elif tree and line.strip() == "+- == Final Plan ==":
            col = line.index("+")
            j = next((j for j in range(i + 1, len(lines) - 1)
                      if lines[j].strip() == "+- == Initial Plan =="
                      and lines[j].index("+") == col), None)
            if j is not None:
                line, i = " " * col + "+- " + lines[j + 1].lstrip(), j + 1
        if tree:
            art = len(line) - len(line.lstrip(" :"))
            line = line[:art].replace(":", " ") + line[art:]
        out.append((tree, line))
        i += 1
    return out


def initial_form(lines):
    """The plan in its initial form, operators renumbered by first mention
    in a tree, each section's detail blocks in that order, blocks of
    operators no tree names dropped.
    """
    tagged = collapse_final(lines)
    ids = {}
    for in_tree, line in tagged:
        m = NODE_ID.search(line) if in_tree else None
        if m:
            ids.setdefault(m.group(1), len(ids) + 1)
    out, blocks, block, stage = [], [], None, False

    def flush():
        for _, lines_ in sorted(blocks):
            out.extend(["", *lines_])
        blocks.clear()

    def refs(line):
        return OPERATOR_REF.sub(lambda m: m.group(1) + str(ids.get(m.group(2), m.group(2))), line)

    for in_tree, line in tagged:
        head = None if in_tree else DETAIL_HEAD.match(line)
        if head:
            block = [] if head.group(1) not in ids else [f"({ids[head.group(1)]}) {head.group(2)}"]
            if block:
                blocks.append((ids[head.group(1)], block))
            stage = head.group(2).endswith("QueryStage")
        elif block is not None and line:
            block.append("Arguments: N" if stage and STAGE_ID.match(line) else refs(line))
        else:
            block = None
            if not line:
                continue
            if in_tree:
                line = NODE_ID.sub(lambda m: f"({ids[m.group(1)]})", line, count=1)
            else:
                flush()
                line = refs(line)
            out.append(line)
    flush()
    return out


def renumber_lambdas(lines):
    """`lines` with each generated lambda variable numbered by first appearance."""
    ids = {}

    def sub(m):
        return m.group(1) + str(ids.setdefault(m.group(0), len(ids) + 1))
    return [LAMBDA_VAR.sub(sub, line) for line in lines]


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
    for key, lines in plans.items():
        while lines and not lines[-1]:
            lines.pop()
        while lines and not lines[0]:
            lines.pop(0)
        plans[key] = renumber_lambdas(initial_form(lines))
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
