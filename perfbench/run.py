"""Benchmark for the reid-spark query catalog.

Runs one named workload (a list of catalog queries, see ``workloads.py``)
in a fresh process on Spark ``local[nproc]``: set-up, one cold pass, one
unmeasured warm-up pass, then warm passes until ``--seconds`` have been
measured.  The seed permutes the query order of every pass.  Every
query's output is consumed in full by one action, ``count(*)`` plus the
sum of ``xxhash64`` over all columns, and that (rows, hash) pair is
checked against the committed table in ``expected.json``.

    python3 perfbench/run.py --workload listing_etl --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` registers the
probes, alternates untraced and traced warm passes and prints the
per-layer metrics plus the tracing overhead.  Informational lines go to
stdout before the result; the last stdout line is the JSON result.  A
traced run also writes its spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

import probes  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, covered  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"
STATE = ROOT / ".perfbench"
EXPECTED = HERE / "expected.json"
PACKAGE = "real_estate_etl_dev_spark"
MIN_WARM_PASSES = 3  # measured
# A traced run alternates untraced and traced warm passes, and needs this
# many of each; fewer than untraced runs, so that it fits the run budget.
MIN_TRACED_RUN_PASSES = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_counters() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return cpu[7] if len(cpu) > 7 else 0, sum(cpu)


def load1() -> float:
    return os.getloadavg()[0]


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live process
    below it (the driver JVM, the PySpark daemon and its Python workers),
    including the children they have already reaped.  Time the host gives
    to other tenants (steal) is not counted."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since it was listed
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def check_inputs(expected: dict) -> str:
    """Verify every input file against its committed digest; returns the
    data directory the queries read."""
    data_dir = DATA / expected["data"]
    for name, digest in expected["inputs"].items():
        with open(data_dir / name, "rb") as fh:
            got = hashlib.sha256(fh.read()).hexdigest()
        if got != digest:
            raise SystemExit(f"input {name} does not match its committed digest")
    return str(data_dir)


class Bench:
    """One benchmark run: a session, a workload and its tracer."""

    def __init__(self, args, run_id: str):
        self.args = args
        self.expected = json.loads(EXPECTED.read_text())
        self.results: list[dict] = []  # one per query execution
        self.errors: list[str] = []
        self.tracer = Tracer(run_id, enabled=bool(args.trace))
        self.off = Tracer(run_id, enabled=False)

    # -- set-up -----------------------------------------------------------
    def setup(self) -> float:
        """Process start until the session is ready and the inputs are
        checked: imports, JVM launch, session and input digests.  A traced
        run then registers its probes, outside the set-up time."""
        from pyspark import SparkContext

        from real_estate_etl_dev_spark.plans import CATALOG
        from real_estate_etl_dev_spark.session import get_spark

        self.catalog = CATALOG
        self.names = workloads.resolve(CATALOG, self.args.workload)
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        t_session = time.perf_counter()
        self.session_start_s = t_session - t
        self.jvm_proc = SparkContext._gateway.proc
        self.data_dir = check_inputs(self.expected)
        end = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        st = self.tracer.add("setup", T_START, end)
        self.tracer.add("session.start", t, t_session, parent=st.id if st else None)
        if self.args.trace:
            self.probe = probes.JvmProbe(self.spark)
            self.streams = probes.StreamRecorder()
            self.spark.streams.addListener(self.streams)
        return end - T_START

    # -- one query --------------------------------------------------------
    def run_query(self, name: str, pass_no: int, traced: bool) -> dict:
        spark, sc = self.spark, self.spark.sparkContext
        fn = self.catalog[name].fn
        group = f"p{pass_no}:{name}"
        rec = {"query": name, "pass": pass_no, "traced": traced, "ok": False}
        if traced:
            from real_estate_etl_dev_spark import benchmeta

            benchmeta.SETUP_SECONDS.pop(name, None)
            # micro-batches of earlier untraced passes are still buffered;
            # only this query's own stream runs may count
            self.probe.drain_listeners()
            self.streams.take()
            cg0 = self.probe.codegen()
        t0 = time.perf_counter()
        t1 = t2 = None
        frame = None
        try:
            sc.setJobGroup(f"{group}:build", name)
            df = fn(spark, self.data_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{group}:action", name)
            frame = probes.hash_frame(df)
            rows, digest = probes.read_hash(frame)
            t2 = time.perf_counter()
            want = self.expected["queries"].get(name)
            rec.update(rows=rows, hash=digest)
            if want is None or [rows, digest] != want:
                rec["error"] = f"output check: got {[rows, digest]}, expected {want}"
            else:
                rec["ok"] = True
        except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        end = time.perf_counter()
        rec.update(start=t0, end=end, wall_s=end - t0)
        if t1 is not None and t2 is not None:
            rec.update(build_s=t1 - t0, action_s=t2 - t1, build_end=t1, action_end=t2)
        if "error" in rec:
            self.errors.append(f"{name} (pass {pass_no}): {rec['error']}")
        if traced:
            self.probe_query(rec, group, frame, cg0)
        return rec

    def probe_query(self, rec: dict, group: str, frame, cg0) -> None:
        """Read the layer counters of one finished query (outside its span)."""
        from real_estate_etl_dev_spark import benchmeta

        probe = self.probe
        probe.drain_listeners()
        cg1 = probe.codegen()
        rec["codegen"] = {"classes": cg1[0] - cg0[0], "compile_s": (cg1[1] - cg0[1]) / 1e9,
                          "source_kb": max(cg1[2] - cg0[2], 0.0) / 1024.0}
        rec["fixture_s"] = benchmeta.SETUP_SECONDS.get(rec["query"], 0.0)
        rec["build_jobs"] = probe.group_stats(f"{group}:build")
        rec["action_jobs"] = probe.group_stats(f"{group}:action")
        batches = self.streams.take()
        rec["batches"] = batches
        rec["stream_jobs"] = [probe.group_stats(r) for r in sorted({b["run_id"] for b in batches})]
        rec["phases"] = probe.phases(frame) if frame is not None else {}

    # -- passes -----------------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool) -> tuple[float, float]:
        """Run every query once; returns the pass's wall and CPU seconds."""
        tracer = self.tracer if traced else self.off
        order = workloads.permuted(self.names, self.args.seed, pass_no)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("pass", pass_no=pass_no):
            for name in order:
                rec = self.run_query(name, pass_no, traced)
                self.results.append(rec)
                if traced:
                    self.record_spans(rec)
        wall = time.perf_counter() - t0
        return wall, tree_cpu_s() - cpu0

    def record_spans(self, rec: dict) -> None:
        tr = self.tracer
        if "build_s" not in rec:
            tr.add("query", rec["start"], rec["end"], query=rec["query"], ok=False, error=rec["error"])
            return
        q = tr.add("query", rec["start"], rec["end"], query=rec["query"], ok=rec["ok"],
                   layers=per_query_layers(rec))
        b = tr.add("plans.build", rec["start"], rec["build_end"], parent=q.id)
        for bt in rec["batches"]:
            tr.add("streaming.batch", tr.from_epoch_ms(bt["start_ms"]), tr.from_epoch_ms(bt["end_ms"]),
                   parent=b.id, run_id=bt["run_id"], batch_id=bt["batch_id"])
        a = tr.add("exec.action", rec["build_end"], rec["action_end"], parent=q.id)
        for phase, (s, e) in rec["phases"].items():
            tr.add(f"catalyst.{phase}", max(tr.from_epoch_ms(s), a.start), min(tr.from_epoch_ms(e), a.end),
                   parent=a.id)

    def measure(self) -> dict:
        """One cold pass and one unmeasured warm-up pass, then measured warm
        passes until ``--seconds`` of them have run, and at least
        ``MIN_WARM_PASSES`` (``MIN_TRACED_RUN_PASSES`` of each kind in a
        traced run, which alternates untraced and traced warm passes).
        Warm passes are ``(pass_no, wall_s, cpu_s)``."""
        traced = bool(self.args.trace)
        first = self.run_pass(0, traced)
        # the JIT is still compiling the workload's hot paths in the pass
        # after the cold one, so that pass runs but is not measured
        self.run_pass(1, False)
        warm = {False: [], True: []}
        kinds = [False, True] if traced else [False]
        need = MIN_TRACED_RUN_PASSES if traced else MIN_WARM_PASSES
        t0 = time.perf_counter()
        pass_no = 2
        while time.perf_counter() - t0 < self.args.seconds or any(len(warm[k]) < need for k in kinds):
            kind = kinds[pass_no % len(kinds)]
            warm[kind].append((pass_no, *self.run_pass(pass_no, kind)))
            pass_no += 1
        return {"first": first, "warm": warm}


E2E_UNITS = {"setup_s": "s", "first_pass_cpu_s": "s", "warm_pass_s": "s"}


def end_to_end(bench: Bench, passes: dict, setup_s: float) -> tuple[dict, dict]:
    """The bounded metrics, and the figures printed beside them without a
    bound because they spread too much run to run (see NOTES.md)."""
    first_wall, first_cpu = passes["first"]
    warm = passes["warm"][False]
    warm_ids = {p for p, _, _ in warm}
    # each query's median latency over the warm passes; with 3-5 queries a
    # workload's p50/p90 are per-query latencies, not a distribution
    lat = [statistics.median(r["wall_s"] for r in bench.results if r["query"] == name and r["pass"] in warm_ids)
           for name in bench.names]
    values = {
        "setup_s": setup_s,
        "first_pass_cpu_s": first_cpu,
        "warm_pass_s": statistics.median(w for _, w, _ in warm),
    }
    unbounded = {
        "first_pass_s": first_wall,
        "warm_pass_cpu_s": statistics.median(c for _, _, c in warm),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
    }
    return {k: (values[k], E2E_UNITS[k]) for k in E2E_UNITS}, unbounded


def union_s(intervals_ms: list[tuple[float, float]]) -> float:
    if not intervals_ms:
        return 0.0
    return covered(intervals_ms, min(a for a, _ in intervals_ms), max(b for _, b in intervals_ms)) / 1000.0


def per_query_layers(rec: dict) -> dict:
    """Layer metrics of one traced query execution."""
    jobs = [rec["build_jobs"], rec["action_jobs"], *rec["stream_jobs"]]
    tot = {k: sum(j[k] for j in jobs) for k in rec["action_jobs"] if k != "job_intervals_ms"}
    build_ivals = [iv for j in [rec["build_jobs"], *rec["stream_jobs"]] for iv in j["job_intervals_ms"]]
    all_ivals = [iv for j in jobs for iv in j["job_intervals_ms"]]
    batches = rec["batches"]
    trigger_s = sum(b["trigger_ms"] for b in batches) / 1000.0
    last_state: dict[str, dict] = {}
    for b in batches:
        last_state[b["run_id"]] = b
    ph = {k: (e - s) / 1000.0 for k, (s, e) in rec["phases"].items()}
    cg = rec["codegen"]
    return {
        "plans.build_s": rec["build_s"],
        "plans.driver_s": max(rec["build_s"] - union_s(build_ivals), 0.0),
        "plans.eager_jobs": rec["build_jobs"]["jobs"] + sum(j["jobs"] for j in rec["stream_jobs"]),
        "plans.fixture_s": rec["fixture_s"],
        "catalyst.analysis_s": ph.get("analysis", 0.0),
        "catalyst.optimization_s": ph.get("optimization", 0.0),
        "catalyst.planning_s": ph.get("planning", 0.0),
        "codegen.classes": cg["classes"],
        "codegen.compile_s": cg["compile_s"],
        "codegen.source_kb": cg["source_kb"],
        "exec.action_s": rec["action_s"],
        "exec.jobs": tot["jobs"],
        "exec.stages": tot["stages"],
        "exec.tasks": tot["tasks"],
        "exec.single_task_stages": tot["single_task_stages"],
        "exec.run_s": tot["run_ms"] / 1000.0,
        "exec.cpu_s": tot["cpu_ns"] / 1e9,
        "exec.gc_s": tot["gc_ms"] / 1000.0,
        "exec.jobs_wall_s": union_s(all_ivals),
        "exec.shuffle_write_mb": tot["shuffle_write"] / 2**20,
        "exec.shuffle_read_mb": tot["shuffle_read"] / 2**20,
        "exec.spill_mb": tot["spill"] / 2**20,
        "exec.output_mb": tot["output"] / 2**20,
        "exec.failed_tasks": tot["failed_tasks"],
        "sources.input_mb": tot["input"] / 2**20,
        "sources.input_rows": tot["input_rows"],
        "sources.rows_out": rec.get("rows", 0),
        "streaming.batches": len(batches),
        "streaming.trigger_s": trigger_s,
        "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1000.0,
        "streaming.planning_s": sum(b["planning_ms"] for b in batches) / 1000.0,
        "streaming.wal_commit_s": sum(b["wal_commit_ms"] for b in batches) / 1000.0,
        "streaming.state_rows": sum(b["state_rows"] for b in last_state.values()),
        "streaming.state_mb": sum(b["state_bytes"] for b in last_state.values()) / 2**20,
        "streaming.state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1000.0,
        "streaming.outside_trigger_s": max(rec["build_s"] - trigger_s, 0.0) if batches else 0.0,
    }


PER_LAYER_UNITS = {
    "session.start_s": "s", "plans.build_s": "s", "plans.driver_s": "s", "plans.eager_jobs": "count",
    "plans.fixture_s": "s", "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "codegen.classes": "count", "codegen.compile_s": "s",
    "codegen.source_kb": "KiB", "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.single_task_stages": "count", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.slot_busy_frac": "frac", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.output_mb": "MB",
    "exec.failed_tasks": "count", "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.rows_per_row_out": "ratio", "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB", "streaming.state_commit_s": "s",
    "streaming.outside_trigger_s": "s", "trace.overhead_frac": "frac",
}


def per_layer(bench: Bench, passes: dict, cpus: int) -> dict:
    """Per-pass layer totals, median over the traced warm passes."""
    by_pass: dict[int, dict] = {}
    for rec in bench.results:
        if rec["traced"] and rec["pass"] > 0 and "build_s" in rec:
            tot = by_pass.setdefault(rec["pass"], {})
            for k, v in per_query_layers(rec).items():
                tot[k] = tot.get(k, 0) + v
    for tot in by_pass.values():
        busy = tot.pop("exec.jobs_wall_s")
        tot["exec.slot_busy_frac"] = tot["exec.run_s"] / (busy * cpus) if busy else 0.0
        rows_out = tot.pop("sources.rows_out")
        tot["sources.rows_per_row_out"] = tot["sources.input_rows"] / rows_out if rows_out else 0.0
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    if by_pass:
        out.update({k: statistics.median(t[k] for t in by_pass.values()) for k in next(iter(by_pass.values()))})
    out["session.start_s"] = bench.session_start_s
    plain = statistics.median(w for _, w, _ in passes["warm"][False])
    traced = statistics.median(w for _, w, _ in passes["warm"][True])
    out["trace.overhead_frac"] = (traced - plain) / plain
    return {k: (out[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


def split_check(bench: Bench) -> float:
    """Largest gap, as a share of the query's wall time, between a traced
    query's span and the sum of its build and action spans."""
    gaps = [abs(r["wall_s"] - r["build_s"] - r["action_s"]) / r["wall_s"]
            for r in bench.results if r["traced"] and "build_s" in r]
    return max(gaps, default=0.0)


def stop_processes() -> None:
    """Stop the session and its JVM, and wait for every process they started."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    left = descendants(proc.pid)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill
            proc.kill()
            proc.wait()
        wait_gone(left, 20.0)


def prepare_env(workdir: Path, cpus: int) -> None:
    """Pin the session to ``cpus`` cores and keep every file the run writes
    (temp files, Spark local dirs, the warehouse) under ``workdir``."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(workdir / "local"),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))
    os.chdir(workdir)


def emit(line: dict) -> None:
    print(json.dumps(line), flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        print(f"{PACKAGE}/ not found beside {HERE.name}/: nothing to benchmark", file=sys.stderr)
        return 2

    cpus = nproc()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    workdir = STATE / "runs" / run_id
    prepare_env(workdir, cpus)

    steal0, total0 = steal_counters()
    load_before = load1()
    bench = Bench(args, run_id)
    try:
        with bench.tracer.span("run", start=T_START, workload=args.workload, seed=args.seed):
            setup_s = bench.setup()
            unrun = workloads.unrun(bench.catalog)
            print(f"workload {args.workload}: {len(bench.names)} queries; {len(unrun)} registered "
                  f"queries run by no workload: {' '.join(unrun)}", file=sys.stderr)
            passes = bench.measure()
        steal1, total1 = steal_counters()
        from pyspark.version import __version__ as spark_version

        stamp = {
            "run_id": run_id, "nproc": cpus, "spark": spark_version,
            "python": platform.python_version(),
            "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "load1_before": load_before, "load1_after": load1(),
            "warm_passes": len(passes["warm"][False]) + len(passes["warm"][True]),
            # driver JVM + driver Python; too unsteady run to run to bound
            "peak_rss_mb": (vm_hwm_kb("self") + vm_hwm_kb(bench.jvm_proc.pid)) / 1024.0,
        }
        unbounded: dict[str, float] = {}
        if args.trace:
            metrics = per_layer(bench, passes, cpus)
            stamp["max_split_gap"] = split_check(bench)
            trace = STATE / "traces" / f"{run_id}.json"
            trace.parent.mkdir(parents=True, exist_ok=True)
            bench.tracer.write(str(trace))
            stamp["trace"] = str(trace.relative_to(ROOT))
        else:
            metrics, unbounded = end_to_end(bench, passes, setup_s)
    finally:
        stop_processes()
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = len(bench.results)
    failed = sum(not r["ok"] for r in bench.results)
    for err in bench.errors:
        print(f"FAILED {err}", file=sys.stderr)
    for name in bench.names:
        walls = " ".join(f"{r['wall_s']:.3f}" for r in bench.results if r["query"] == name)
        print(f"query {name}: {walls}", file=sys.stderr)
    emit({"load_stamp": stamp})
    # failed_frac is 0 on a healthy run, so it is printed here and carried
    # by the result's attempted/failed counts rather than as a metric
    print(f"failed_frac = {failed / attempted:.6g} frac")
    for name, value in unbounded.items():
        print(f"{name} = {value:.6g} s (printed, not bounded)")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    emit({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
