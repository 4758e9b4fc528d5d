#!/usr/bin/env python3
"""Compare the physical plans of every declared query between two source trees.

Usage: plan_diff.py PARENT_TREE CHANGE_TREE [query ...]

Runs `sbt -batch "runMain graft.Explain"` in each tree, one tree after the
other (the same tree must not run two sbt commands at once), with
SPARK_GRAFT_CPUS=4: the CPU count sets the shuffle-partition count that the
plans print. Explain prints the formatted plans of the named queries (all
declared queries when none are named) at the data directory it defaults to,
which is read from the tree's Explain.scala. Before comparing, the parts of a
formatted plan that differ between any two runs are masked:

  - expression ids (`#123`) and `plan_id=123`;
  - JVM lambda class names (`$$Lambda$1234/0x...`) and object hashes
    (`[[[D@1a2b3c`);
  - the RDD ids of localCheckpoint scans (`MapPartitionsRDD[113]`), which
    count every RDD the JVM made before, so any change in the jobs an earlier
    query starts shifts them, and the source line of their call site
    (`at localCheckpoint at Ann.scala:1013`), which any edit above it moves.

Prints the queries whose masked plans differ, each with a unified diff, and
exits 1 if any do (2 if a tree printed no plans or a named query does not
exist).

Explain constructs the queries in one JVM, so a plan can depend on the ones
constructed before it: Spark orders the distinct groups of an aggregate with
several distinct aggregates by expression-id hashes, and so an Expand lists
them in an order that moves when an earlier query allocates a different
number of expression ids. Naming such a query alone constructs it first in
both trees.
"""
import difflib
import os
import re
import subprocess
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda"),
    (re.compile(r"@[0-9a-f]+"), "@H"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\.scala):\d+"), r"\1:N"),
]
HEADER = re.compile(r"^========== (\S+) ==========$")


def plans(tree, names):
    """Query name -> masked plan lines, from one Explain run in `tree`."""
    main = "runMain graft.Explain"
    if names:
        src = open(os.path.join(tree, "src/main/scala/graft/Explain.scala")).read()
        sf = re.search(r'args\.headOption\.getOrElse\("([^"]+)"\)', src).group(1)
        main = " ".join([main, sf] + names)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    run = subprocess.run(["sbt", "-batch", main], cwd=tree, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    out, name = {}, None
    for raw in run.stdout.splitlines():
        if not raw.startswith("[info] "):
            continue
        line = raw[len("[info] "):]
        m = HEADER.match(line)
        if m:
            name = m.group(1)
            out[name] = []
        elif name is not None:
            for pattern, mask in MASKS:
                line = pattern.sub(mask, line)
            out[name].append(line)
    # a name Explain could not construct prints a header and no plan
    out = {n: lines for n, lines in out.items() if any(l.strip() for l in lines)}
    if not out:
        print(f"{tree}: Explain printed no plans (sbt exit {run.returncode})",
              file=sys.stderr)
        sys.exit(2)
    return out


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    parent_tree, change_tree, wanted = sys.argv[1], sys.argv[2], sys.argv[3:]
    a, b = plans(parent_tree, wanted), plans(change_tree, wanted)
    names = wanted or sorted(set(a) | set(b))
    unknown = [n for n in names if n not in a and n not in b]
    if unknown:
        print(f"no such query: {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    changed = [n for n in names if a.get(n) != b.get(n)]
    for n in changed:
        print(f"\n---------- {n} ----------")
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            a.get(n, []), b.get(n, []), "parent", "change", lineterm="", n=1))
    print(f"\n{len(names)} queries compared; {len(changed)} differ: "
          f"{' '.join(changed) if changed else '-'}")
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
