#!/usr/bin/env python3
"""Compare two `graft.tools.Dev explain` dumps key by key.

Usage: tools/plan_diff.py [--diff] <before.md> <after.md> [key...]

Each dump holds one `## <key>` section per catalog query (its exchange
count and formatted physical plan). Before comparing, every run-local id
is masked, so two dumps of the same tree compare equal:

  - expression ids `name#123` and `plan_id=45`
  - broadcast ids `Broadcast(624)` and RDD ids `MapPartitionsRDD[202]`
  - lambda addresses `$$Lambda$6605/0x00007f4ced751a60@288f3ac6`
  - source positions `Dedup.scala:42`
  - file UUIDs, the 8-hex file prefix and part numbers of data files,
    which also masks which file a listing happens to name first
  - scratch directory names (`graft-<name>-<uuid>`, masked with the UUID)

It prints each key whose masked plan differs, or that only one dump has.
The named keys are the ones expected to differ; the exit status is 1 when
any other key differs, else 0. `--diff` also prints a unified diff of
each differing key's masked plan.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast(N)"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"Lambda[$\w/]*@[0-9a-f]+"), "Lambda@X"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"\b[0-9a-f]{8}-part-\d+"), "X-part-N"),
    (re.compile(r"\bpart-\d+"), "part-N"),
]


def mask(text):
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def sections(path):
    """key -> masked section body, in file order."""
    out = {}
    key, body = None, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                if key is not None:
                    out[key] = mask("".join(body))
                key, body = line[3:].strip(), []
            elif key is not None:
                body.append(line)
    if key is not None:
        out[key] = mask("".join(body))
    return out


def main(argv):
    show = "--diff" in argv
    args = [a for a in argv if a != "--diff"]
    if len(args) < 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    before, after = sections(args[0]), sections(args[1])
    expected = set(args[2:])
    differing = [k for k in list(before) + [k for k in after if k not in before]
                 if before.get(k) != after.get(k)]
    for k in differing:
        tag = "expected" if k in expected else "UNEXPECTED"
        where = "" if k in before and k in after else (
            " (only before)" if k in before else " (only after)")
        print(f"{tag}: {k}{where}")
        if show:
            sys.stdout.writelines(difflib.unified_diff(
                before.get(k, "").splitlines(True), after.get(k, "").splitlines(True),
                f"before/{k}", f"after/{k}", n=1))
    unexpected = [k for k in differing if k not in expected]
    print(f"== {len(before)} before, {len(after)} after, {len(differing)} differ, "
          f"{len(unexpected)} unexpected")
    return 1 if unexpected else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
