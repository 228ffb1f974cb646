#!/usr/bin/env python3
"""Plan-identity check between two `graft.Explain` dumps.

Usage: plan_diff.py BEFORE.txt AFTER.txt

Each dump is the stdout of `sbt "runMain graft.Explain <sfDir> <query> ..."`
(one `========== <query> ==========` section per query; sbt's own log
lines are dropped). Tokens that change between two builds or JVMs
without the plan changing are normalized away:

- expression ids (`#123`), physical plan ids (`plan_id=123`) and RDD
  ids (`MapPartitionsRDD[128]`) count what the JVM built before;
- object identity hashes (`PostingsAgg$$anon$1@6dd59886`) and JVM
  lambda classes (`Dataset$$Lambda$3667/0x00007f6ef4fe9d60`);
- lambda variable names, numbered by a JVM-wide counter
  (`lambda x_4#12`);
- source line numbers of RDD call sites (`at Relational.scala:1706`);
- the fit-once model store directory, keyed by the build fingerprint
  (`graft_models_v2_<hex>`);
- the random digits `Files.createTempDirectory` appends to a `graft_*`
  temp-dir prefix in a path (`/graft_stream_sess_out<digits>`,
  `/graft_bucketed<digits>`); names outside a path, such as native
  functions (`graft_simhash16`), keep their digits.

Everything else must match. Prints `identical` or a unified diff per
query and exits 1 if any query differs or is missing from one side.
"""
import difflib
import re
import sys

SECTION = re.compile(r"^========== (\S+) ==========$")
SBT_LOG = re.compile(r"^\[(info|warn|error|success)\] ")
NOISE = [(re.compile(p), r) for p, r in [
    (r"#\d+", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"RDD\[\d+\]", "RDD[N]"),
    (r"@[0-9a-f]{4,}\b", "@H"),
    # anchored at a word start: unanchored, every position inside a long
    # hex literal (a serialized sketch in a plan) retries `\w+`, which is
    # quadratic in the literal's length
    (r"\b(\w+\.scala):\d+", r"\1:N"),
    (r"graft_models_v2_[0-9a-f]+", "graft_models_v2_H"),
    (r"\$\$Lambda\$\d+/0x[0-9a-f]+", "$$Lambda$N/0xH"),
    (r"\b(lambda \w+_)\d+\b", r"\1N"),
    (r"(?<=/)(graft_\w*?[A-Za-z_])\d+\b", r"\1N"),
]]


def sections(path):
    out, name = {}, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            m = SECTION.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not SBT_LOG.match(line):
                for pat, rep in NOISE:
                    line = pat.sub(rep, line)
                out[name].append(line)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = sections(argv[1]), sections(argv[2])
    differ = False
    for name in sorted(set(before) | set(after)):
        if name not in before or name not in after:
            print(f"{name}: only in {'AFTER' if name in after else 'BEFORE'}")
            differ = True
            continue
        diff = list(difflib.unified_diff(before[name], after[name],
                                         "before/" + name, "after/" + name, lineterm=""))
        if diff:
            differ = True
            print(f"{name}: DIFFERS")
            print("\n".join(diff))
        else:
            print(f"{name}: identical")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
