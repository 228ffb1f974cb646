#!/usr/bin/env python3
"""Scaling sweep of the paper CLI (graft.RunDetectors): the wall of one
CLI process per (corpus multiple, --update-interval, build), plus a byte
comparison of every cell's summary JSON and stderr trailer against the
first build's.

Usage:
  python3 scripts/scc_scaling.py --out FILE --work DIR \\
      --build parent=PARENT_CP_FILE --build change=CHANGE_CP_FILE [--xmx 4g]

A classpath file holds one line: the last stdout line of
`sbt "export Runtime/fullClasspath"` in that build's checkout. The corpus
at multiple m is perfbench/gen.py's scc_tree with 300*m files (seed 7:
1,690 kept messages at 1x, 107,766 at 64x), generated under DIR once.
Start-up is JVM, session and first-job cost: the median wall of three
`--max-messages 0` runs on the 1x corpus, taken for every build, and the
lowest of those medians is subtracted from every wall ("past start-up").
Builds run interleaved per cell, so drift on the host hits them alike.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MULTS = (1, 4, 16, 64)
INTERVALS = (500, 100)
SEED = 7


def corpus(work, mult):
    """The corpus directory at `mult`, generated on first use."""
    root = os.path.join(work, f"scc_s{SEED}_x{mult}")
    if not os.path.isdir(os.path.join(root, "test_convs")):
        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))
        import gen
        spec = dict(gen.SCC_STREAM, files=300 * mult)
        gen.scc_tree(root, SEED, spec)
    return root


def cli(cp, xmx, args):
    """Wall, stdout md5 and stderr trailer of one CLI process."""
    cmd = ["java", f"-Xmx{xmx}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.RunDetectors"] + args
    t = time.monotonic()
    r = subprocess.run(cmd, capture_output=True)
    wall = time.monotonic() - t
    if r.returncode != 0:
        raise RuntimeError(f"exit {r.returncode}: {' '.join(args)}\n"
                           f"{r.stderr.decode()[-2000:]}")
    trailer = [l for l in r.stderr.decode().splitlines()
               if l.startswith(("Processed ", "Excluded "))]
    return wall, hashlib.md5(r.stdout).hexdigest(), trailer


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--build", action="append", required=True)
    ap.add_argument("--xmx", default="4g")
    a = ap.parse_args()
    builds = []
    for b in a.build:
        name, path = b.split("=", 1)
        with open(path) as f:
            builds.append((name, f.read().strip()))
    os.makedirs(a.work, exist_ok=True)

    empty = {}
    for name, cp in builds:
        one = corpus(a.work, 1)
        empty[name] = statistics.median(
            cli(cp, a.xmx, ["--data-dir", one, "--max-messages", "0"])[0]
            for _ in range(3))
    startup = min(empty.values())
    cells = []
    for m in MULTS:
        data = corpus(a.work, m)
        for iv in INTERVALS:
            args = ["--data-dir", data, "--max-messages", "2147483647",
                    "--update-interval", str(iv)]
            first = None
            for name, cp in builds:
                wall, md5, trailer = cli(cp, a.xmx, args)
                first = first or (md5, trailer)
                cell = {"build": name, "mult": m, "interval": iv,
                        "wall_s": round(wall, 2),
                        "past_startup_s": round(wall - startup, 2),
                        "md5": md5, "trailer": trailer,
                        "same_as_first": (md5, trailer) == first}
                cells.append(cell)
                print(json.dumps(cell), flush=True)

    def wall(name, m, iv, key="wall_s"):
        return next(c[key] for c in cells
                    if (c["build"], c["mult"], c["interval"]) == (name, m, iv))

    summary = {
        name: {
            "growth_16x_to_64x_past_startup_at_100": round(
                wall(name, 64, 100, "past_startup_s")
                / wall(name, 16, 100, "past_startup_s"), 2),
            "interval_100_over_500_at_64x": round(
                wall(name, 64, 100) / wall(name, 64, 500), 2)}
        for name, _ in builds}
    doc = {"what": "graft.RunDetectors CLI wall per corpus multiple and "
                   "--update-interval, one process per cell",
           "corpus": f"perfbench/gen.py scc_tree, seed {SEED}, 300 files x mult",
           "cpus": os.cpu_count(), "xmx": a.xmx,
           "empty_stream_s": {k: round(v, 2) for k, v in empty.items()},
           "startup_s": round(startup, 2),
           "cells": cells, "summary": summary,
           "all_outputs_identical": all(c["same_as_first"] for c in cells)}
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
