"""Self-test of the benchmark at tiny scale.

    python3 lyrabench/selftest.py

Runs every workload the benchmark defines (the ones BENCHMARK.json gates
and ``profile_sf0.05``) at sf0.001 with one warm operation, untraced and
traced, and checks that each run exits 0, passes its output checks, and
prints exactly the metrics BENCHMARK.json lists, with their units. Then
runs the benchmark in a directory that holds only BENCHMARK.json and the
benchmark's files, where it must exit non-zero without printing a result.

sf0.001 holds ~100 conversations; a seed whose fixture has no rows on the
drift date cannot pass the drift checks, so the self-test uses seed 42,
whose fixture has them.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str) -> tuple[int, str]:
    p = subprocess.run([sys.executable, *args], cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    problems = []
    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = run([*spec["command"][1:], "--workload", name, "--seed", "42", "--seconds", "0",
                           "--trace", str(trace), "--sf", "0.001"], ROOT)
            tag = f"{name} --trace {trace}"
            if rc != 0:
                problems.append(f"{tag}: exit {rc}")
                continue
            res = json.loads(out.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} attempted={res['attempted']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            print(f"{tag}: exit {rc}, correct={res['correct']}, {len(got)} metrics", flush=True)

    bare = os.path.join(ROOT, ".lyrabench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = run([*spec["command"][1:], "--workload", spec["workloads"][0]["name"], "--seed", "1",
                   "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or '"metrics"' in out:
        problems.append(f"bare directory: exit {rc}, stdout {out[-200:]!r}")
    print(f"bare directory: exit {rc}", flush=True)

    for p in problems:
        print("FAIL:", p)
    print("selftest:", "FAIL" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
