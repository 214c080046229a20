#!/usr/bin/env python3
"""THE bench entry point: run graft.Bench and stamp its one JSON line
into the committed artifact `bench_last.json` (plus host context), so
SURVEY/README quote exactly one source of truth instead of hand-copied
numbers from ad-hoc runs.

Usage: python3 tools/run_bench.py [sf_dir] [cpus]

`cpus` defaults to the host's core count, and the driver heap
(SPARK_DRIVER_MEM, when unset) to the tier-1 formula: half of
MemTotal, clamped to 2-8g.
"""
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus():
    """Cores this process may run on (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem():
    """Half of MemTotal in whole GiB, clamped to 2-8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{min(8, max(2, kb // 2097152))}g"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = sys.argv[2] if len(sys.argv) > 2 else str(host_cpus())
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": cpus,
                "SPARK_DRIVER_MEM": env.get("SPARK_DRIVER_MEM", driver_mem())})
    r = subprocess.run('sbt -batch "runMain graft.Bench"', shell=True,
                       cwd=REPO, env=env, capture_output=True, text=True)
    line = None
    for ln in (r.stdout + r.stderr).splitlines():
        m = re.search(r'\{"metric".*\}', ln)
        if m:
            line = json.loads(m.group(0))
    if line is None:
        raise SystemExit(f"no metric line from bench:\n{r.stdout[-2000:]}")
    line["cpus"] = cpus
    line["host_cpus"] = host_cpus()
    with open(f"{REPO}/bench_last.json", "w") as f:
        json.dump(line, f, indent=1)
    print(f"bench_last.json: {line['value']:.1f}s total "
          f"across {len(line['queries'])} queries (sf={sf_dir}, {cpus} CPUs "
          f"of {line['host_cpus']})")


if __name__ == "__main__":
    main()
