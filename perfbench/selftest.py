#!/usr/bin/env python3
"""Self-test of the benchmark, at sf0.001 (stream: a short open loop).

    python3 perfbench/selftest.py

Passes when, for every workload, the untraced run prints every end-to-end
metric and the traced run every per-layer metric, each with its unit and
with no failed operation; when the traced q1_pricing_summary shows its known
shape (exactly one shuffle of scanned input: the aggregate's hash exchange;
the ORDER BY's range exchange over the aggregated rows makes two shuffle
stages in all); and when a planted dropped row makes stream_curation report
a failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--sf", "0.001"] + list(extra)
    p = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit("FAIL %s: exit %d\n%s" % (" ".join(cmd[2:]), p.returncode, p.stderr[-2000:]))
    lines = p.stdout.strip().split("\n")
    return json.loads(lines[-1]), lines[:-1]


def main():
    problems = []
    for w in sorted(run.WORKLOADS):
        for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            res, text = bench(w, trace)
            if res["failed"] or not res["correct"]:
                problems.append("%s trace=%d: %d of %d operations failed"
                                % (w, trace, res["failed"], res["attempted"]))
            want = {n: u for n, u in names}
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if got != want:
                problems.append("%s trace=%d: metrics differ from the declared set: %s"
                                % (w, trace, sorted(set(got.items()) ^ set(want.items()))))
            printed = {l.split()[0]: l.split()[2] for l in text if l.split() and l.split()[0] in want}
            if printed != want:
                problems.append("%s trace=%d: not every metric printed with its unit" % (w, trace))
            print("ok  %-17s trace=%d  %d metrics, %d operations"
                  % (w, trace, len(got), res["attempted"]), flush=True)
    with open(os.path.join(run.WORK, "last", "batch_relational.per_query.json")) as f:
        q1 = json.load(f)["q1_pricing_summary"]
    if (q1["input_shuffles"], q1["shuffles"]) != (1, 2):
        problems.append("q1_pricing_summary: %d shuffles of scanned input, %d shuffle stages; "
                        "expected 1 and 2" % (q1["input_shuffles"], q1["shuffles"]))
    print("ok  q1 shape: %d shuffle of scanned input, %d shuffle stages"
          % (q1["input_shuffles"], q1["shuffles"]), flush=True)
    res, _ = bench("stream_curation", 0, "--plant-drop")
    if res["failed"] < 1 or res["correct"] or res["metrics"]["success_rate"]["value"] >= 1.0:
        problems.append("planted dropped row not detected: %s" % json.dumps(res)[:300])
    print("ok  planted drop: %d of %d failed" % (res["failed"], res["attempted"]), flush=True)
    if problems:
        print("\n".join("FAIL " + p for p in problems))
        sys.exit(1)
    print("PASS")


if __name__ == "__main__":
    main()
