#!/usr/bin/env python3
"""The benchmark of record for ``etlbigdata_spark``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds (or reuses) the seeded fixture and the DuckDB-computed expected
outputs, pins the run environment, then runs the workload in a fresh
Python process and JVM (``harness.py``) and prints, as the last stdout
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(which also writes the span file).  The line before it records the
environment and run details.  Workloads, metrics and the per-layer →
end-to-end map are defined in ``perfbench/definitions.json``.

Everything the benchmark generates lives in ``.perfbench_cache/`` at the
root of the checkout.  The first run in a checkout builds the base
fixtures and expected outputs of every workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
CHILD_TIMEOUT_S = 170.0


def pinned_env(cache: Path) -> dict[str, str]:
    """The run environment: every core as a Spark slot, a driver heap a
    quarter of physical memory (2-8 GB), scratch and temp dirs inside
    the cache."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = int(min(8, max(2, mem_gb // 4)))
    tmp, local = cache / "tmp", cache / "spark-local"
    for d in (tmp, local):  # runs are sequential: start each from empty dirs
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # spark-submit's command-builder JVM: no perf-data file in /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores
    (the ``steal`` column of /proc/stat): the noise a shared host adds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def prepare(workload: str, seed: int, sf_override: float | None = None) -> tuple[Path, Path, Path]:
    """Fixture dir, expected-output file and pin file for one run.  The
    first call in a checkout builds every workload's base fixture and
    query oracles, so later runs of any workload only reshuffle."""
    import fixture
    import oracle
    from workloads import ETL_STEPS, WORKLOADS

    CACHE.mkdir(exist_ok=True)
    for w in WORKLOADS.values():
        base = fixture.base_dir(CACHE, sf_override or w.sf)
        queries = [s for s in w.steps if s not in ETL_STEPS]
        oracle.query_expected(base, queries, base / f"expected-{w.name}.json")
    w = WORKLOADS[workload]
    base = fixture.base_dir(CACHE, sf_override or w.sf)
    fx = fixture.seeded_dir(CACHE, sf_override or w.sf, seed, w.tables, w.has_etl, w.name)
    expected = fx / "expected.json"
    if not expected.exists():
        data = json.loads((base / f"expected-{w.name}.json").read_text())
        if w.has_etl:
            data.update(oracle.etl_expected(fx))
        expected.write_text(json.dumps(data))
    return fx, expected, base / f"pins-{workload}.json"


def end_group(pgid: int, wait_s: float = 5.0) -> None:
    """Kill what is left of a run's process group (the JVM is in the
    child's session) and wait until it has ended."""
    deadline = time.time() + wait_s
    try:
        os.killpg(pgid, signal.SIGKILL)
        while time.time() < deadline:
            os.killpg(pgid, 0)
            time.sleep(0.05)
    except ProcessLookupError:
        pass


def run_child(workload: str, fx: Path, expected: Path, pins: Path, seconds: float,
              trace: int, span_file: Path | None, env: dict, timeout: float) -> dict:
    cmd = [sys.executable, str(HERE / "harness.py"), "--workload", workload,
           "--fixture", str(fx), "--expected", str(expected), "--pins", str(pins),
           "--seconds", str(seconds), "--trace", str(trace)]
    if span_file is not None:
        cmd += ["--span-file", str(span_file)]
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], env=env, cwd=env["TMPDIR"],
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        end_group(proc.pid)
        proc.communicate()
        raise RuntimeError(f"{workload} run exceeded {timeout:.0f} s") from None
    finally:
        end_group(proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} run exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not (ROOT / "etlbigdata_spark" / "__init__.py").is_file():
        print(f"package etlbigdata_spark not found under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    from etlbigdata_spark.benchutil import noisy_start

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    fx, expected, pins = prepare(args.workload, args.seed)
    prepared = time.time()
    env = pinned_env(CACHE)
    load_start = os.getloadavg()
    steal_start = steal_s()
    span_file = None
    if args.trace:
        (CACHE / "traces").mkdir(exist_ok=True)
        span_file = CACHE / "traces" / f"{args.workload}-seed{args.seed}.json"
    budget = CHILD_TIMEOUT_S - (time.time() - started)
    result = run_child(args.workload, fx, expected, pins, args.seconds, args.trace,
                       span_file, env, budget)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": f"local[{env['SPARK_GRAFT_CPUS']}]",
        "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "noisy_start": noisy_start(load_start), "span_file": str(span_file) if span_file else None,
        "prepare_s": prepared - started, "child_s": time.time() - prepared,
        "steal_s": steal_s() - steal_start,
        **result.pop("detail"),
    }
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
