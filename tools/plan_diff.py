#!/usr/bin/env python3
"""Diff two `graft.Dev plan <sfDir> <names|all> <outDir> [suffix]` dumps.

    python3 tools/plan_diff.py <dirA> <dirB> [-v]

Each dump holds one `<key>_<suffix>.txt` per census key (the suffix is
whatever the dump was run with, `before` by default; the two dumps may use
different suffixes). Before comparing, each plan is masked:

  - expression ids        `vec_id#1953L`, `lambda x#12`  -> `#N`
  - plan ids              `[plan_id=123]`                -> `[plan_id=N]`
  - broadcast ids         `Broadcast(40)`, `dynamicpruning#7` -> `N`
  - lambda identities     `Multimodal$$$Lambda$7209/0x…@64c1d822` -> `$Lambda`
  - scratch paths         `/tmp/graft_ivf_index_3088…/index` -> `<scratch>/index`
  - the warehouse path    `file:/work/spark-warehouse/t` -> `<warehouse>/t`

It prints every key whose masked plan differs, and every key present in
only one dump, then exits 1 if there was any; 0 means every key's plan is
unchanged. `-v` adds a unified diff of each differing key's masked plan.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"broadcastId=\d+"), "broadcastId=N"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast(N)"),
    # object identities of serialized lambdas: `$$Lambda$7209/0x7f67…@64c1d822`
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    # Engine.scratchDir: java.io.tmpdir + prefix + random digits
    (re.compile(r"(?:file:)?/[^\s\[\],]*/graft_[A-Za-z0-9_]*?_\d{6,}"), "<scratch>"),
    # the session's warehouse sits under the working directory
    (re.compile(r"(?:file:)?/[^\s\[\],]*/spark-warehouse/"), "<warehouse>/"),
]


def mask(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def load(d):
    files = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    tails = {f.rsplit("_", 1)[-1] for f in files if "_" in f}
    # one shared suffix (the usual case): key the dump by the census name
    strip = len(tails) == 1 and all("_" in f for f in files)
    out = {}
    for f in files:
        key = f.rsplit("_", 1)[0] if strip else f[:-len(".txt")]
        with open(os.path.join(d, f), encoding="utf-8") as fh:
            out[key] = mask(fh.read())
    return out


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    if len(args) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = load(args[0]), load(args[1])
    bad = 0
    for key in sorted(set(a) | set(b)):
        if key not in b or key not in a:
            print(f"{key}: only in {args[0] if key in a else args[1]}")
            bad += 1
        elif a[key] != b[key]:
            print(f"{key}: plan differs")
            bad += 1
            if verbose:
                sys.stdout.writelines(difflib.unified_diff(
                    a[key].splitlines(True), b[key].splitlines(True),
                    f"{args[0]}/{key}", f"{args[1]}/{key}", n=2))
    same = len(set(a) & set(b)) - sum(1 for k in set(a) & set(b) if a[k] != b[k])
    print(f"{same} same, {bad} differ ({len(a)} keys in A, {len(b)} in B)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
