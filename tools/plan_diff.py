#!/usr/bin/env python3
"""Compare the per-gate physical plans of two `graft.PlanAudit` dumps.

Each input is the captured stdout of

    sbt -batch "runMain graft.PlanAudit <sfDir> all" > dump.txt

(sbt's `[info] ` prefix on forked output is stripped; its own
`[success]`/`[warn]`/`[error]` lines are dropped). The dump is split
into gates on the `===== name =====` headers PlanAudit prints. Before
comparing, run-dependent tokens are masked:

  - `#123` expression ids            -> `#N`
  - `[plan_id=7]` exchange/subquery ids -> `[plan_id=N]`
  - RDD ids (`ExistingRDD[12]`, `MapPartitionsRDD[12]`, `rdd_12`)
  - `File.scala:123` call sites      -> `File.scala:N`
  - lambda addresses (`$$Lambda/0x...@1a2b3c`) and `@hash` suffixes

Prints the gates whose masked plans differ and the gates present in
only one dump, then exits 1 if there is any; prints a one-line summary
and exits 0 otherwise.

Usage (from the repository root):
    python3 tools/plan_diff.py before.txt after.txt [--show]
    # --show prints a unified diff of each differing gate
"""
import difflib
import re
import sys

# Gate names are lower snake case; Spark's own `===== Subqueries =====`
# section inside a formatted plan is not a gate header.
HEADER = re.compile(r"^===== ([a-z][a-z0-9_]*)(?: =====| FAILED: .*)$")
SBT_PREFIX = "[info] "
SBT_OWN = ("[success]", "[warn]", "[error]")
TRAILER = ("[strict]", "[inventory]")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\brdd_\d+"), "rdd_N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\$+Lambda[$\w/.]*(?:@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@ADDR"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def gates(path):
    """name -> list of masked plan lines, in dump order."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith(SBT_OWN):
                continue
            if line.startswith(SBT_PREFIX):
                line = line[len(SBT_PREFIX):]
            m = HEADER.match(line)
            if m:
                cur = m.group(1)
                out[cur] = [line]
            elif cur is not None and not line.startswith(TRAILER):
                out[cur].append(mask(line))
    return out


def main(argv):
    show = "--show" in argv
    paths = [a for a in argv if a != "--show"]
    if len(paths) != 2:
        sys.exit(__doc__)
    a, b = (gates(p) for p in paths)
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    differ = sorted(g for g in a.keys() & b.keys() if a[g] != b[g])
    for g in only_a:
        print(f"only in {paths[0]}: {g}")
    for g in only_b:
        print(f"only in {paths[1]}: {g}")
    for g in differ:
        print(f"differs: {g}")
        if show:
            sys.stdout.writelines(difflib.unified_diff(
                [ln + "\n" for ln in a[g]], [ln + "\n" for ln in b[g]],
                paths[0], paths[1], n=1))
    print(f"{len(a.keys() & b.keys())} common gates, {len(differ)} differ, "
          f"{len(only_a) + len(only_b)} unmatched")
    return 1 if differ or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
