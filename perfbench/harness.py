"""One measured run of one workload, in a fresh Python process and JVM.

Started by ``run.py`` with the environment already pinned; prints one
JSON record on its last stdout line.  Sequence:

1. set-up: session built and fixture registered, timed from the moment
   the launcher started this process;
2. the cold pass (first pass in the fresh JVM);
3. a fixed number of warm passes, ``--seconds`` / ``WARM_PASS_S`` (at
   least one), so that every run does the same work whatever the
   host's speed.  With ``--trace 1`` warm passes alternate traced and
   untraced (at least one of each), and the per-layer figures come
   from the traced ones;
4. with ``--trace 1``, two session restarts in the same JVM (session
   stopped and rebuilt, fixture registered again), reported as
   ``session.restart_s``.

``setup_s`` is the first set-up: process start to session built and
fixture registered.  It is one sample per run because each further JVM
launch would add about half the measured window to the run.

Every step's output is checked after the step, outside its timing.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import oracle  # noqa: E402
import spans as tracing  # noqa: E402
from workloads import ETL_STEPS, WORKLOADS, EtlPass, input_files  # noqa: E402

from etlbigdata_spark import workload as wl  # noqa: E402
from etlbigdata_spark.session import build_session  # noqa: E402

# nominal length of a warm pass on a 4-core host: ``--seconds`` buys
# ``round(seconds / WARM_PASS_S)`` warm passes
WARM_PASS_S = 10.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    def __init__(self, args) -> None:
        self.w = WORKLOADS[args.workload]
        self.fixture = Path(args.fixture)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.expected = json.loads(Path(args.expected).read_text())
        self.pins_path = Path(args.pins)
        self.pins = json.loads(self.pins_path.read_text()) if self.pins_path.exists() else {}
        self.tracer = tracing.Tracer()
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.pass_no = 0
        self.spark = None

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        master = f"local[{self.cores}]"
        heap_mb = int(os.environ["SPARK_GRAFT_DRIVER_MEM"].rstrip("g")) * 1024
        self.spark = build_session(app_name="perfbench", master=master, extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": str(Path(os.environ["TMPDIR"]) / "warehouse"),
            # a fixed heap and young generation: no heap-resizing GCs in
            # the cold pass, and a resident-memory peak that tracks live
            # data rather than the collector's adaptive sizing.  The JVM's
            # temp files (native libraries) go to the run's temp dir, and
            # no perf-data file is written to the system temp dir
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap_mb}m -Xmn{heap_mb // 4}m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        })
        self.sc = self.spark.sparkContext
        for t in self.w.tables:
            wl.load(self.spark, str(self.fixture), t)

    def resetup(self) -> float:
        self.spark.stop()
        t = time.time()
        self.setup()
        return time.time() - t

    # -- steps ----------------------------------------------------------

    def _query_fn(self, name: str, tr):
        def fn():
            with tr.span("build"):
                df = wl.QUERIES[name](self.spark, str(self.fixture))
            with tr.span("action"):
                tbl = df.toArrow()
            return df, tbl
        return fn

    def _check(self, name: str, tbl, etl: EtlPass | None) -> bool:
        if name in ETL_STEPS:
            if name == "read_back":
                return oracle.digest_arrow(tbl) == self.expected["read_back"]
            if name == "load":
                return etl.written()[0] > 0
            if name == "stream_append":
                return etl.query is not None and etl.query.exception() is None
            return True
        got = oracle.digest_arrow(tbl)
        if name in self.w.pinned:
            pin = self.pins.setdefault(name, got)
            return got == pin
        return got == self.expected.get(name)

    def run_pass(self, traced: bool) -> dict:
        self.pass_no += 1
        tr = self.tracer if traced else tracing.NullTracer()
        etl = None
        if self.w.has_etl:
            etl = EtlPass(self.spark, self.fixture, Path(os.environ["TMPDIR"]) / "etl_out", tr)
        walls, records, out_bytes = [], [], 0
        t_pass = time.time()
        for name in self.w.steps:
            group = f"perfbench-{self.pass_no}-{name}"
            self.sc.setJobGroup(group, name)
            fn = getattr(etl, name) if name in ETL_STEPS else self._query_fn(name, tr)
            self.attempted += 1
            tr.step_id = group
            df = tbl = None
            t0 = time.perf_counter()
            try:
                with tr.span("step", step_name=name):
                    df, tbl = fn()
                ok = True
            except Exception as e:  # a failing step is counted, the run goes on
                ok = False
                print(f"step {name} raised: {e!r}", file=sys.stderr)
            wall = time.perf_counter() - t0
            walls.append(wall)
            if ok:
                try:
                    ok = self._check(name, tbl, etl)
                except Exception as e:  # noqa: BLE001 - a check error is a failure
                    print(f"step {name} check raised: {e!r}", file=sys.stderr)
                    ok = False
            if not ok:
                self.failed += 1
                self.failures.append(name)
            if tbl is not None:
                out_bytes += tbl.nbytes
            if traced:
                groups = [group]
                if name == "stream_append" and etl.query is not None:
                    groups.append(str(etl.query.runId))
                records.append(self._collect(group, name, df, groups))
        if etl is not None:
            out_bytes += etl.written()[1]
        rec = {"walls": walls, "wall": sum(walls), "out_bytes": out_bytes, "traced": traced,
               "steps": records}
        if traced:
            rec["floor_s"] = statistics.median(self._floor() for _ in range(3))
            if etl is not None:
                files, nbytes = etl.written()
                rec["etl"] = {"files": files, "bytes": nbytes, **self._stream_progress(etl.query)}
        rec["loop_wall"] = time.time() - t_pass
        return rec

    def _floor(self) -> float:
        t = time.perf_counter()
        wl.load(self.spark, str(self.fixture), self.w.tables[0]).limit(1).toArrow()
        return time.perf_counter() - t

    @staticmethod
    def _stream_progress(query) -> dict:
        progress = query.recentProgress if query is not None else []
        durations = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        state = sum(op.get("numRowsTotal", 0) for op in progress[-1]["stateOperators"]) if progress else 0
        return {"batches": len(progress),
                "batch_ms_p50": statistics.median(durations) if durations else 0.0,
                "state_rows": state}

    def _collect(self, group: str, name: str, df, groups: list[str]) -> dict:
        """Add the JVM-side spans of one traced step and summarise it."""
        tr = self.tracer
        step = next(s for s in reversed(tr.spans) if s["name"] == "step" and s["step"] == group)
        kids = {s["name"]: s for s in tr.children(step["id"])}
        build, action = kids.get("build"), kids.get("action")
        timed = [s for s in tr.spans if s["step"] == group]

        def parent_of(start: float) -> int:
            """The innermost benchmark-timed span open at ``start``."""
            return max((s for s in timed if s["start"] <= start < s["end"]),
                       key=lambda s: (s["start"], s["id"]), default=step)["id"]

        jvm_intervals = []
        phases = {}
        if df is not None:
            phases = tracing.planner_phases(self.sc._jvm, df)
            for ph, (a, b) in phases.items():
                tr.add(f"planner.{ph}", a, b, parent_of(a))
                jvm_intervals.append((a, b))
        jobs = tracing.job_records(self.sc, groups)
        for job in jobs:
            jid = tr.add("exec.job", job["start"], job["end"], parent_of(job["start"]), job=job["job"])
            jvm_intervals.append((job["start"], job["end"]))
            for st in job["stages"]:
                if st["start"] is not None and st["end"] is not None:
                    tr.add("exec.stage", st["start"], st["end"], jid, stage=st["stage"])
        fetch_s = 0.0
        if action is not None and df is not None:
            inside = [b for a, b in jvm_intervals if a >= action["start"]]
            tail_start = max(inside) if inside else action["start"]
            tail_start = min(max(tail_start, action["start"]), action["end"])
            tr.add("fetch", tail_start, action["end"], action["id"])
            fetch_s = action["end"] - tail_start
        gen_rows = scan_rows = 0
        if df is not None:
            gen_rows, scan_rows = tracing.plan_rows(df._jdf.queryExecution().executedPlan())
        wall = step["end"] - step["start"]
        lo, hi = step["start"], step["end"]
        stages = [s for j in jobs for s in j["stages"]]
        heaviest = max(stages, key=lambda s: s["run_s"], default=None)
        gap = tr.self_time(action) - fetch_s if action is not None else 0.0
        spans_of = lambda n: sum(s["end"] - s["start"] for s in tr.spans  # noqa: E731
                                 if s["step"] == group and s["name"] == n)
        return {
            "name": name, "wall": wall,
            "build_s": build["end"] - build["start"] if build else 0.0,
            "phases": {k: b - a for k, (a, b) in phases.items()},
            "jobs": len(jobs), "stages": len(stages), "tasks": sum(s["tasks"] for s in stages),
            "job_span_s": tracing.union_length([(j["start"], j["end"]) for j in jobs], lo, hi),
            "run_s": sum(s["run_s"] for s in stages), "cpu_s": sum(s["cpu_s"] for s in stages),
            "gc_s": sum(s["gc_s"] for s in stages),
            "input_b": sum(s["input_b"] for s in stages),
            "shuffle_read_b": sum(s["shuffle_read_b"] for s in stages),
            "shuffle_write_b": sum(s["shuffle_write_b"] for s in stages),
            "spill_b": sum(s["spill_b"] for s in stages),
            "skew": heaviest["skew"] if heaviest and heaviest["skew"] else 1.0,
            "fetch_s": fetch_s, "gap_s": max(gap, 0.0),
            "gen_rows": gen_rows, "scan_rows": scan_rows,
            "sources_read_s": spans_of("sources.read"), "sources_write_s": spans_of("sources.write"),
            "streaming_drain_s": spans_of("streaming.drain"),
            "self_sum": sum(tr.layer_self_times(group).values()),
        }

    # -- metrics --------------------------------------------------------

    def peak_rss_mb(self) -> float:
        jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def input_per_pass(self) -> tuple[int, int]:
        """(rows, bytes) the steps of one pass read from the fixture."""
        import pyarrow.parquet as pq

        extract = json.loads((self.fixture / "extract.json").read_text())
        rows = nbytes = 0
        for tables in self.w.steps.values():
            for path in input_files(self.fixture, tables):
                nbytes += path.stat().st_size
                if path.suffix == ".csv":
                    rows += extract["rows"]
                else:
                    rows += pq.ParquetFile(path).metadata.num_rows
        return rows, nbytes


def end_to_end(run: Run, setups: list[float], cold: dict, warm: list[dict], rss: float) -> dict:
    rows, nbytes = run.input_per_pass()
    pass_s = statistics.median(p["wall"] for p in warm)
    steps = [w for p in warm for w in p["walls"]]
    return {
        "setup_s": (setups[0], "s"),
        "cold_pass_s": (cold["wall"], "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (rows / pass_s, "rows/s"),
        "step_p50_s": (statistics.median(steps), "s"),
        "step_p90_s": (_p90(steps), "s"),
        "correct_step_ratio": (1.0 - run.failed / run.attempted, "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "output_bytes_per_input_byte": (statistics.median(p["out_bytes"] for p in warm) / nbytes, "ratio"),
    }


def per_layer(run: Run, setups: list[float], traced: list[dict], untraced: list[dict]) -> dict:
    def med(fn):
        return statistics.median(fn(p) for p in traced)

    def total(key):
        return lambda p: sum(s[key] for s in p["steps"])

    def phase(name):
        return lambda p: sum(s["phases"].get(name, 0.0) for s in p["steps"])

    mb = 1024.0 * 1024.0
    csv_bytes = sum(f.stat().st_size for f in input_files(run.fixture, ["orders.csv"])
                    if run.w.has_etl)

    def expansion(p):
        scan = sum(s["scan_rows"] for s in p["steps"])
        return sum(s["gen_rows"] for s in p["steps"]) / scan if scan else 0.0

    def slot_util(p):
        span = sum(s["job_span_s"] for s in p["steps"])
        return sum(s["run_s"] for s in p["steps"]) / (span * run.cores) if span else 0.0

    etl = lambda key: (lambda p: p.get("etl", {}).get(key, 0))  # noqa: E731
    return {
        "session.start_s": (setups[0], "s"),
        "session.restart_s": (statistics.median(setups[1:]), "s"),
        "workload.build_s": (med(total("build_s")), "s"),
        "planner.analysis_s": (med(phase("analysis")), "s"),
        "planner.optimization_s": (med(phase("optimization")), "s"),
        "planner.planning_s": (med(phase("planning")), "s"),
        "exec.jobs": (med(total("jobs")), "count"),
        "exec.stages": (med(total("stages")), "count"),
        "exec.tasks": (med(total("tasks")), "count"),
        "exec.job_span_s": (med(total("job_span_s")), "s"),
        "exec.run_s": (med(total("run_s")), "s"),
        "exec.cpu_s": (med(total("cpu_s")), "s"),
        "exec.gc_s": (med(total("gc_s")), "s"),
        "exec.slot_util": (med(slot_util), "ratio"),
        "exec.task_skew": (med(lambda p: max(s["skew"] for s in p["steps"])), "ratio"),
        "exec.input_mb": (med(total("input_b")) / mb, "MB"),
        "exec.shuffle_write_mb": (med(total("shuffle_write_b")) / mb, "MB"),
        "exec.shuffle_read_mb": (med(total("shuffle_read_b")) / mb, "MB"),
        "exec.spill_mb": (med(total("spill_b")) / mb, "MB"),
        "driver.fetch_s": (med(total("fetch_s")), "s"),
        "driver.floor_s": (med(lambda p: p["floor_s"]), "s"),
        "driver.gap_s": (med(total("gap_s")), "s"),
        "functions.expansion_ratio": (med(expansion), "ratio"),
        "sources.read_s": (med(total("sources_read_s")), "s"),
        "sources.csv_mb": (csv_bytes / mb, "MB"),
        "sources.write_s": (med(total("sources_write_s")), "s"),
        "sources.written_mb": (med(etl("bytes")) / mb, "MB"),
        "sources.files_written": (med(etl("files")), "count"),
        "streaming.drain_s": (med(total("streaming_drain_s")), "s"),
        "streaming.batches": (med(etl("batches")), "count"),
        "streaming.batch_ms_p50": (med(etl("batch_ms_p50")), "ms"),
        "streaming.state_rows": (med(etl("state_rows")), "rows"),
        # per pass, time outside the steps: span and JVM-metric collection
        # and the floor probes when traced, output checks in both.  The
        # difference of step walls is not used, because the later of two
        # warm passes is faster anyway (the JIT is still warming)
        "trace.overhead_s": (med(lambda p: p["loop_wall"] - p["wall"])
                             - statistics.median(p["loop_wall"] - p["wall"] for p in untraced), "s"),
        "trace.accounted_share": (med(lambda p: 1.0 - sum(s["gap_s"] for s in p["steps"]) / p["wall"]),
                                  "ratio"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--pins", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the launcher started us")
    ap.add_argument("--span-file", default=None)
    args = ap.parse_args()

    run = Run(args)
    run.setup()
    setups = [time.time() - args.t0]
    cold = run.run_pass(traced=False)
    warm, traced, untraced = [], [], []
    t_warm = time.time()
    n_warm = max(1, round(args.seconds / WARM_PASS_S), 2 if args.trace else 1)
    for _ in range(n_warm):
        p = run.run_pass(traced=bool(args.trace) and len(traced) <= len(untraced))
        (traced if p["traced"] else untraced).append(p)
        warm.append(p)
    rss = run.peak_rss_mb()
    t_restart = time.time()
    if args.trace:
        setups += [run.resetup(), run.resetup()]
    run.spark.stop()
    timeline = {"setup": setups[0], "cold": t_warm - args.t0 - setups[0], "warm": t_restart - t_warm,
                "restarts_and_stop": time.time() - t_restart}
    if args.trace:
        metrics = per_layer(run, setups, traced, untraced)
        if args.span_file:
            run.tracer.write(args.span_file)
    else:
        metrics = end_to_end(run, setups, cold, untraced, rss)
    if run.pins and not run.pins_path.exists():
        run.pins_path.write_text(json.dumps(run.pins))
    detail = {
        "passes": len(warm), "step_samples": sum(len(p["walls"]) for p in untraced),
        "failures": sorted(set(run.failures)),
        "timeline": timeline,
        "pass_walls": [round(cold["wall"], 4)] + [round(p["wall"], 4) for p in warm],
        "step_walls": {name: [round(p["walls"][i], 4) for p in [cold] + warm]
                       for i, name in enumerate(run.w.steps)},
        "accounted": [(s["name"], round(1.0 - s["gap_s"] / s["wall"], 4), round(s["self_sum"] / s["wall"], 4))
                      for p in traced for s in p["steps"]],
    }
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                      "detail": detail}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
