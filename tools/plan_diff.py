#!/usr/bin/env python3
"""Diff two `graft.Probe plans` outputs after normalising run-to-run noise.

Usage: plan_diff.py <before.md> <after.md> [q ...]

Each input is the stdout of `sbt "runMain graft.Probe plans ..."`: one
"## <query>" heading per query followed by its formatted physical plan in a
``` block (sbt and Spark log lines around them are ignored). Before
comparing, every plan is normalised:

  - expression ids (`#123`) -> `#`
  - exchange/broadcast plan ids (`plan_id=123`) -> `plan_id=N`
  - RDD ids (`RDD[12]`) -> `RDD[N]`
  - JVM lambda and object identities (`$Lambda$61/0x7f..@5a03`, `X@1f2e3d`)
  - call-site lines (`Foo.scala:138`) -> `Foo.scala:L`
  - the source file of an RDD's call site (`RDD[N] at localCheckpoint at
    Foo.scala:L`) -> `<site>.scala:L`: it names where the code calls
    `localCheckpoint`, not what the plan does
  - temp-directory suffixes (`graft_stream_stage3123456789`) -> `...N`
  - random UUIDs, e.g. an `Observation`'s `CollectMetrics` name -> `<uuid>`
  - lambda variables (`lambda x_12#`), whose suffix is a JVM-wide counter,
    renumbered per plan in order of first appearance (`lambda x_L1#`), so
    which lambda binds which variable still has to match
  - each `Expand` node's projection lists are sorted; for a
    distinct-aggregate Expand (output column `gid#`), whose distinct
    groups Spark may order differently between runs of the same code,
    the group columns are put in name order and the gids renumbered to
    match throughout the plan

With query names, only those are compared. Prints a unified diff per query
that differs and a summary line; exits 1 if any query differs or is missing
from one side, else 0.
"""
import difflib
import re
import sys

SUBS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda[$\w/]*@[0-9a-f]+"), "$Lambda@H"),
    (re.compile(r"([\w$])@[0-9a-f]{4,16}\b"), r"\1@H"),
    (re.compile(r"\.scala:\d+"), ".scala:L"),
    (re.compile(r"(RDD\[N\] at \w+ at )[\w$]+\.scala:L"), r"\1<site>.scala:L"),
    (re.compile(r"(graft_[A-Za-z0-9_]*?[A-Za-z_])\d{5,}"), r"\1N"),
    (re.compile(r"\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b"), "<uuid>"),
]


def top_level_lists(s):
    """Split '[a, b], [c, [d]]' into its top-level bracketed items."""
    items, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                items.append(s[start:i + 1])
    return items


def split_items(s):
    """Split 'a, f(b, c), [d, e]' on its top-level commas."""
    items, depth, cur = [], 0, ""
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            items.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        items.append(cur.strip())
    return items


def canonical_expand(block, idx):
    """Rewrites the Expand whose `Arguments:` line is block[idx].

    A distinct-aggregate rewrite (an output column `gid#`) may order its
    distinct groups differently from run to run: the columns before
    `gid#`, the projection per group and the gid each group gets all
    move together. The columns are put in name order, the projections
    sorted, the gids renumbered in that order, and the same column order
    and gid numbering applied to the rest of the plan. Any other Expand
    only has its projection lists sorted.
    """
    outer = top_level_lists(block[idx][len("Arguments: "):])
    if len(outer) < 2:
        return
    projs = [split_items(p[1:-1]) for p in top_level_lists(outer[0][1:-1])]
    outs = split_items(outer[1][1:-1])
    g = outs.index("gid#") if "gid#" in outs else -1
    if g < 0 or any(len(p) != len(outs) or not p[g].isdigit() for p in projs):
        block[idx] = ("Arguments: [" + ", ".join(sorted(
            "[" + ", ".join(p) + "]" for p in projs)) + "]" +
            block[idx][len("Arguments: ") + len(outer[0]):])
        return
    perm = sorted(range(g), key=lambda i: outs[i]) + list(range(g, len(outs)))
    projs = [[p[i] for i in perm] for p in projs]
    new_outs = [outs[i] for i in perm]
    order = sorted(range(len(projs)),
                   key=lambda j: str(projs[j][:g] + projs[j][g + 1:]))
    values = sorted((p[g] for p in projs), key=int)
    gids = {projs[j][g]: values[rank] for rank, j in enumerate(order)}
    for j in order:
        projs[j][g] = gids[projs[j][g]]
    block[idx] = ("Arguments: [" + ", ".join(
        "[" + ", ".join(projs[j]) + "]" for j in order) + "], [" +
        ", ".join(new_outs) + "]")
    old_list, new_list = ", ".join(outs), ", ".join(new_outs)
    for i, line in enumerate(block):
        if i != idx:
            line = line.replace(old_list, new_list)
            block[i] = re.sub(r"gid# = (\d+)",
                              lambda m: "gid# = " + gids.get(m.group(1), m.group(1)),
                              line)


def canonical_expands(lines):
    """Applies canonical_expand to the Arguments line of each Expand."""
    block, in_expand = list(lines), False
    for i, line in enumerate(block):
        if re.match(r"^\(\d+\) Expand", line):
            in_expand = True
        elif in_expand and line.startswith("Arguments: [["):
            canonical_expand(block, i)
            in_expand = False
        elif line.startswith("("):
            in_expand = False
    return block


LAMBDA = re.compile(r"(lambda \w+?)_\d+#")


def renumber_lambdas(lines):
    """Numbers each plan's lambda variables in order of first appearance."""
    seen = {}

    def sub(m):
        return f"{m.group(1)}_L{seen.setdefault(m.group(0), len(seen) + 1)}#"
    return [LAMBDA.sub(sub, line) for line in lines]


def parse(path):
    """Query name -> normalised plan lines."""
    plans, name, body, in_block = {}, None, [], False
    with open(path) as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("## ") and not in_block:
                name, body = line[3:].strip(), []
            elif line.startswith("```") and name is not None:
                if in_block:
                    plans[name] = canonical_expands(renumber_lambdas(body))
                    name = None
                in_block = not in_block
            elif in_block:
                for pat, rep in SUBS:
                    line = pat.sub(rep, line)
                body.append(line)
    return plans


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    before, after = parse(argv[1]), parse(argv[2])
    names = argv[3:] or sorted(set(before) | set(after))
    differ = []
    for q in names:
        if q not in before or q not in after:
            side = argv[1] if q not in before else argv[2]
            print(f"MISSING {q}: not in {side}")
            differ.append(q)
            continue
        diff = list(difflib.unified_diff(before[q], after[q],
                                         f"before/{q}", f"after/{q}",
                                         lineterm=""))
        if diff:
            print("\n".join(diff))
            differ.append(q)
    print(f"{len(names) - len(differ)} same, {len(differ)} differ"
          + (f": {', '.join(differ)}" if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
