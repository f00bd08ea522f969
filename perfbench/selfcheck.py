#!/usr/bin/env python3
"""Self-checks of the benchmark, on a tiny fixture (sf 0.001).

    python3 perfbench/selfcheck.py

1. Every workload runs one warm pass untraced and one traced; every
   output check passes, and every metric ``BENCHMARK.json`` names is
   printed with its unit.
2. A deliberately corrupted expected result makes the run report a
   failed step (``correct_step_ratio`` < 1, ``correct`` false).
3. In the traced runs, the self times of each step's spans sum to the
   step's wall time within 10%.
4. ``definitions.json`` defines every workload and metric
   ``BENCHMARK.json`` names.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY_SF = 0.001
SEED = 7


def _run(workload: str, expected: Path, fx: Path, pins: Path, trace: int) -> tuple[dict, dict]:
    env = run.pinned_env(run.CACHE)
    out = run.run_child(workload, fx, expected, pins, 0, trace, None, env, run.CHILD_TIMEOUT_S)
    return out, out.pop("detail")


def main() -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    problems: list[str] = []

    def check(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    defs = json.loads((HERE / "definitions.json").read_text())
    for key in ("workloads", "end_to_end", "per_layer"):
        for item in spec[key]:
            check(item["name"] in defs[key], f"definitions.json defines {key} {item['name']}")

    for name in WORKLOADS:
        fx, expected, pins = run.prepare(name, SEED, sf_override=TINY_SF)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            t = time.time()
            out, detail = _run(name, expected, fx, pins, trace)
            check(out["correct"] and out["failed"] == 0,
                  f"{name} trace={trace}: all outputs correct ({time.time() - t:.0f} s)")
            for m in spec[key]:
                got = out["metrics"].get(m["name"])
                check(got is not None and got["unit"] == m["unit"],
                      f"{name} trace={trace}: metric {m['name']} [{m['unit']}] printed")
            for step, _accounted, self_share in detail["accounted"]:
                check(abs(self_share - 1.0) <= 0.10,
                      f"{name}: span self times sum to the wall of {step} ({self_share:.3f})")

        corrupt = fx / f"corrupt-{name}.json"
        data = json.loads(expected.read_text())
        victim = sorted(data)[0]
        data[victim] = {"rows": -1, "sha256": "0" * 64}
        corrupt.write_text(json.dumps(data))
        out, detail = _run(name, corrupt, fx, pins, 0)
        corrupt.unlink()
        check(not out["correct"] and out["metrics"]["correct_step_ratio"]["value"] < 1.0
              and victim in detail["failures"],
              f"{name}: corrupted expected result for {victim} is reported as a failure")

    for d in run.CACHE.glob(f"*sf{TINY_SF:g}-*"):
        shutil.rmtree(d, ignore_errors=True)
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
