#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (single client, closed loop, local[nproc] in one driver JVM):
  scc_stream      the reference CLI pipeline, RunDetectors.run, streaming
                  a conversation-JSON tree in full (--update-interval 250)
  curation_batch  one pass of 10 curation operators over generated
                  documents + embeddings, fit-once artifacts built in set-up
  stream_replay   one pass of 6 stateful AvailableNow replays over
                  Zipf-skewed events + documents

The program is built from the checkout's sources (perfbench/build.py) and
sees only inputs generated from --seed. Everything a run writes lives in
a scratch root under perfbench/.work that is deleted on exit; traced runs
keep their spans in perfbench/.out.

--trace 0 prints the end-to-end metrics; --trace 1 runs the traced
variant and prints the per-layer metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from stats import median, tail_percentile  # noqa: E402

WORKLOADS = ["scc_stream", "curation_batch", "stream_replay"]
BUDGET_S = 170          # a run must end within 180 s

JAVA_OPTS = [
    "-Xmx3g", "-Xss8m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                 "java.base/java.lang.reflect", "java.base/java.io",
                 "java.base/java.net", "java.base/java.nio",
                 "java.base/java.util", "java.base/java.util.concurrent",
                 "java.base/java.util.concurrent.atomic",
                 "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                 "java.base/sun.security.action",
                 "java.base/sun.util.calendar"]
     for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# what one item of each workload's input is, named as in the generator's truth
ITEMS = {"scc_stream": "messages_kept", "curation_batch": "docs",
         "stream_replay": "events"}
E2E_UNITS = {"setup_s": "s", "run_s": "s", "items_per_s": "1/s",
             "cpu_s": "s", "heap_live_peak_mb": "MB"}


def per_layer_names():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


class Run:
    def __init__(self, args):
        self.args = args
        self.root = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.child = None

    def jvm(self, classpath):
        """Run the benchmark process; return what it measured."""
        w = self.root
        out = f"{w}/out.json"
        cmd = ["java"] + JAVA_OPTS + [
            f"-Djava.io.tmpdir={w}/tmp", "-cp", classpath,
            "graft.perfbench.Main", "--workload", self.args.workload,
            "--data", f"{w}/input", "--work", w, "--out", out,
            "--seconds", str(self.args.seconds), "--trace", str(self.args.trace),
            "--cpus", str(os.cpu_count() or 4), "--oracle-dir", f"{w}/oracle"]
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{w}/local",
                   SPARK_GRAFT_MODELSTORE=f"{w}/store")
        left = BUDGET_S - (time.monotonic() - self.t_start)
        with open(f"{w}/jvm.log", "a") as log:
            self.child = subprocess.Popen(cmd, stdout=log, stderr=log, env=env)
            try:
                self.child.wait(timeout=max(5.0, left))
            except subprocess.TimeoutExpired:
                self.child.kill()
                self.child.wait()
                raise SystemExit("timed out")
            finally:
                rc, self.child = self.child.returncode, None
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(f"{w}/jvm.log").read()[-4000:])
            raise SystemExit(f"benchmark process failed (exit {rc})")
        with open(out) as fh:
            return json.load(fh)

    def cleanup(self, *_):
        if self.child is not None and self.child.poll() is None:
            self.child.kill()
            self.child.wait()
        shutil.rmtree(self.root, ignore_errors=True)

    def main(self):
        a = self.args
        self.t_start = time.monotonic()
        classpath = build.build()
        for d in ("tmp", "local", "input", "oracle"):
            os.makedirs(os.path.join(self.root, d), exist_ok=True)
        t = time.monotonic()
        truth = gen.generate(a.workload, os.path.join(self.root, "input"), a.seed)
        t_gen = time.monotonic()
        out = self.jvm(classpath)
        t_jvm = time.monotonic()
        result = self.report(out, truth)
        print(f"[perfbench] wall: build {t - self.t_start:.1f}s gen {t_gen - t:.1f}s "
              f"jvm {t_jvm - t_gen:.1f}s check {time.monotonic() - t_jvm:.1f}s",
              file=sys.stderr)
        return result

    # ------------------------------------------------------ correctness

    def check(self, out, truth):
        """Attempted and failed operations: those of the benchmark process
        plus the gates checked here. Failures are listed on stderr."""
        attempted, failed = out["attempted"], out["failed"]
        errors = list(out["errors"])
        if self.args.workload == "scc_stream":
            s = json.loads(out["summary"])
            want = truth["truth"](truth["messages_kept"])
            burst = [b["representative"] for b in s["final burst"]]
            gates = [
                (s["processed"] == want["processed"],
                 f"processed {s['processed']} != {want['processed']}"),
                (s["duplicates"]["total"] >= want["exact_dups"],
                 f"duplicates {s['duplicates']['total']} < injected {want['exact_dups']}"),
                (truth["burst_token"] in burst,
                 f"burst token {truth['burst_token']} not in final burst"),
            ]
        else:
            bad = oracle.check(os.path.join(self.root, "input"), out["oracle"],
                               out["oracle_sql"])
            gates = [(q not in bad, f"oracle {q}: {bad.get(q)}")
                     for q in sorted(out["oracle_sql"])]
        attempted += len(gates)
        for ok, what in gates:
            if not ok:
                failed += 1
                errors.append(what)
        for e in errors:
            print(f"[perfbench] FAIL {e}", file=sys.stderr)
        return attempted, failed

    # ---------------------------------------------------------- metrics

    def report(self, out, truth):
        a = self.args
        if not out["passes"] and not out["layers"]:
            raise SystemExit("no timed pass completed: " + "; ".join(out["errors"]))
        attempted, failed = self.check(out, truth)
        if not a.trace:
            passes = out["passes"]
            run_s = [p["run_s"] for p in passes]
            items = truth[ITEMS[a.workload]]
            values = {
                "setup_s": out["setup_s"],
                "run_s": median(run_s),
                "items_per_s": items / median(run_s),
                "cpu_s": median([p["cpu_s"] for p in passes]),
                "heap_live_peak_mb": median([p["heap_live_peak_mb"] for p in passes]),
            }
            tail = tail_percentile(run_s)
            print(f"[perfbench] run_s n={len(run_s)} median={median(run_s):.4f}"
                  + (f" p{tail[0]:.1f}={tail[1]:.4f}" if tail else "")
                  + f" passes={['%.3f' % x for x in run_s]}"
                  + f" failed_frac={failed / attempted:.4f}", file=sys.stderr)
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        else:
            layers = {k: median(v) for k, v in out["layers"].items() if v}
            layers.update(self.layer_inputs(truth, layers))
            metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                       for name, unit in per_layer_names().items()}
            self.save_spans(out["spans"])
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}

    def layer_inputs(self, truth, layers):
        """Per-layer metrics that describe the input, from the generator."""
        w = self.args.workload
        if w == "scc_stream":
            return {"sources.files": float(truth["files"]),
                    "sources.messages_in": float(truth["messages_in"]),
                    "sources.msgs_per_s": truth["messages_in"] / layers["sources.scan_s"]}
        if w == "stream_replay":
            return {"stream.hot_key_share": truth["hot_key_share"]}
        return {}

    def save_spans(self, spans):
        a = self.args
        out = os.path.join(HERE, ".out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"spans_{a.workload}_{a.seed}.json"), "w") as fh:
            json.dump(spans, fh)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    run = Run(p.parse_args())
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: (run.cleanup(), sys.exit(1)))
    try:
        result = run.main()
    finally:
        run.cleanup()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
