#!/usr/bin/env python3
"""Self-test: every op's Spark job, stage and task counts repeat exactly.

The counts are host-independent, so a change that alters them is a
change to the program, not noise. This runs the benchmark twice per
workload with tracing on, under different seeds (so in different op
orders), and fails if any key's [jobs, stages, tasks] differ between
traced passes or between the runs. Each run is long enough for two
traced passes. Run from the repository root:

    python3 graftbench/test_counters.py            # every workload
    python3 graftbench/test_counters.py stream     # one workload
"""
import json
import os
import subprocess
import sys
import unittest

import run

WORKLOADS = sys.argv[1:] or sorted(run.WORKLOADS)
SEEDS = (101, 202)


def traced_counters(workload, seed):
    p = subprocess.run(
        [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "20", "--trace", "1"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"], f"{workload} seed {seed} is not correct: {lines[-2][:3000]}"
    return json.loads(lines[-2])["record"]["traced"]["counters"]


class CountersRepeat(unittest.TestCase):
    def test_counts_repeat_across_passes_and_runs(self):
        for w in WORKLOADS:
            runs = [traced_counters(w, s) for s in SEEDS]
            for key in run.WORKLOADS[w]:
                seen = [tuple(c) for r in runs for c in r[key]]
                with self.subTest(workload=w, key=key):
                    self.assertGreaterEqual(len(seen), 2 * len(SEEDS))
                    self.assertEqual(len(set(seen)), 1,
                                     f"[jobs, stages, tasks] differ: {seen}")


if __name__ == "__main__":
    unittest.main(argv=sys.argv[:1])
