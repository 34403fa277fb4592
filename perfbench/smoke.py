"""Smoke check of the benchmark itself.

Runs every workload of BENCHMARK.json once untraced and once traced at a tiny
corpus size, and checks that each result line has the contract's keys, passes
its own result check, and names every end-to-end (untraced) or per-layer
(traced) metric with its unit.  Exits non-zero on any miss.

    python3 perfbench/smoke.py [--files 2000] [--seconds 2]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check(result: dict, want: dict[str, str]) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") or result.get("attempted", 0) < 1:
        problems.append(f"correct={result.get('correct')} attempted="
                        f"{result.get('attempted')} failed={result.get('failed')}")
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    for name, unit in want.items():
        if name not in got:
            problems.append(f"missing {name}")
        elif got[name] != unit:
            problems.append(f"{name} unit {got[name]!r} != {unit!r}")
        elif not isinstance(result["metrics"][name].get("value"), (int, float)):
            problems.append(f"{name} value is not a number")
    problems += [f"unexpected {name}" for name in got if name not in want]
    return problems


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--files", type=int, default=2000)
    p.add_argument("--seconds", type=int, default=2)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failed = False
    for workload in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
                   "--workload", workload["name"], "--seed", "0",
                   "--seconds", str(args.seconds), "--trace", str(trace),
                   "--files", str(args.files)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                 timeout=300)
            lines = out.stdout.strip().splitlines()
            if out.returncode or not lines:
                problems = [f"exit code {out.returncode}",
                            *out.stderr.strip().splitlines()[-5:]]
            else:
                problems = check(json.loads(lines[-1]),
                                 {m["name"]: m["unit"] for m in spec[kind]})
            status = "ok" if not problems else "FAIL"
            print(f"{workload['name']} trace={trace}: {status}")
            for line in problems:
                print(f"  {line}")
            failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
