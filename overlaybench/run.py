"""Overlay benchmark for dle: seeded inputs, oracle-checked warm
iterations, and an event-log layer profile.

Run from the root of a dle checkout:

    python3 overlaybench/run.py --workload pages_overlay --seed 1 \
        --seconds 8 --trace 0

One run generates the workload's ``orders`` and ``documents`` parquet
from ``--seed`` (overlaybench/gen.py), computes every phase's expected
answer once with the gate's DuckDB ``oracle_sql()`` twin, starts Spark
at ``local[nproc - 1]``, and then times iterations. An iteration calls
each phase's registered gate (``__spark_entry__.queries()``) and
collects its rows; every iteration is checked against the oracle.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs with
Spark's event log on and prints the per-layer metrics, ``cold_s`` (the
first iteration in the fresh session) among them. ``--steady N``
repeats the workload N times on consecutive seeds and prints each
end-to-end metric's median and quartiles against its bound in
BENCHMARK.json. The last line of standard output is one JSON object.
See overlaybench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
import procs  # noqa: E402


@dataclass(frozen=True)
class Workload:
    phases: dict[str, str]   # phase name -> registered gate name
    n_orders: int
    n_docs: int
    items: str               # what items_per_s counts
    items_view: str          # the table or generated view holding them
    views: tuple[str, ...]   # sqlgen.spark_view inputs the gates read
    builders: tuple[str, ...]  # dle.datagen builders the gates read


def _bands(phases: dict[str, str], views: tuple[str, ...] = (),
           builders: tuple[str, ...] = ("bands_1d",)) -> Workload:
    """A workload over designation features only (no pages)."""
    return Workload(phases, n_orders=2000, n_docs=500,
                    items="designation features", items_view="documents",
                    views=views, builders=builders)


WORKLOADS = {
    "pages_overlay": Workload(
        phases={"polygon_fold": "spatial_polygon_precedence",
                "polygon_pairs": "spatial_pip_polygon",
                "rect_rollup": "spatial_rollup_counts",
                "rect_restrict": "spatial_restriction_max"},
        n_orders=20000, n_docs=500,
        items="candidate points", items_view="points",
        views=("points", "layers"), builders=("tris_poly",)),
    "designation_overlay": _bands({
        "dissolve": "overlay_dissolve_area_1d",
        "planarize": "overlay_planarize_labels_1d"}),
    # Profile-only: too slow per iteration for a steady end-to-end
    # number within the runs' time budget (see README).
    "designation_qa": _bands({"qa_compare": "qa_compare_designation"}),
    "designation_raster": _bands({
        "zonal_stats": "raster_zonal_stats",
        "precedence_pixels": "raster_precedence_pixels"},
        views=("layers",), builders=()),
}

REGISTRATIONS = 3   # input registrations per run; setup_s counts their
                    # median once, on top of the one session start
WARMUP_GAIN = 0.03  # an iteration that does not beat the best earlier
                    # one by more than this share counts as flat
DRIVER_MEM = "1g"   # the heap fills early in every run, which keeps
                    # peak_rss_mb steady (see README)


# ------------------------------------------------------------- setup

def _environment(root: Path, work: Path, trace_dir: Path | None) -> None:
    """Fix what the session reads from the environment before the JVM
    starts: cores, heap, scratch dirs inside the checkout, the worker
    import path, and (traced run) the event log."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        # one core stays free for the driver JVM's own threads (JIT, GC,
        # scheduler) and the Python driver: at nproc, run-to-run spread
        # doubled (see README)
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) - 1)),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH")) if p),
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file: HotSpot would write it under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace_dir is not None:
        trace_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir.as_uri(),
            # Spark 4 zstd-compresses event logs by default
            "spark.eventLog.compress": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _oracle(wl: Workload, in_dir: Path, gates: dict) -> tuple[dict, int]:
    """Expected (columns, rows, hash) per phase, and the item count."""
    import duckdb

    from check_oracle import table_hash
    from dle import sqlgen

    con = duckdb.connect()
    try:
        for f in sorted(in_dir.glob("*.parquet")):
            con.execute(f"create view {f.stem} as "
                        f"select * from read_parquet('{f}')")
        expected = {}
        for phase, gate in wl.phases.items():
            rel = con.sql(gates[gate])
            cols = list(rel.columns)
            rows = rel.fetchall()
            expected[phase] = (sorted(cols), len(rows),
                               table_hash(cols, rows))
        items = con.sql(sqlgen.preamble("duckdb", layers=False)
                        + f" select count(*) from {wl.items_view}"
                        ).fetchone()[0]
    finally:
        con.close()
    return expected, items


def _start() -> tuple[object, float]:
    from dle.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("overlaybench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _register(spark, wl: Workload, in_dir: str) -> dict:
    """Input registration: parquet views, generated CTE plans and the
    WKB fixture builders the gates read, timed by layer."""
    from dle import datagen, sqlgen

    t0 = time.perf_counter()
    sqlgen.register_tables(spark, in_dir)
    for v in wl.views:
        sqlgen.spark_view(spark, in_dir, v)
    t1 = time.perf_counter()
    for b in wl.builders:
        getattr(datagen, b)(spark, in_dir)
    t2 = time.perf_counter()
    return {"sqlgen.register_s": t1 - t0, "datagen.build_s": t2 - t1,
            "register_s": t2 - t0}


# ------------------------------------------------------------ iterate

class Runner:
    """Runs iterations of one workload on one session and checks each
    against the oracle."""

    def __init__(self, spark, wl: Workload, in_dir: str, gates: dict,
                 expected: dict):
        from check_oracle import table_hash
        self.spark, self.wl, self.in_dir = spark, wl, in_dir
        self.gates, self.expected, self.hash = gates, expected, table_hash
        self.n = 0
        self.attempted = self.failed = 0
        self.spans: list[dict] = []   # per iteration: phase -> (plan, action)

    def iterate(self) -> tuple[float, float]:
        """One iteration; returns (wall seconds, tree CPU seconds)."""
        sc = self.spark.sparkContext
        it, self.n = self.n, self.n + 1
        results, span = {}, {}
        cpu0 = procs.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        for phase, gate in self.wl.phases.items():
            a = time.perf_counter()
            sc.setLocalProperty(eventlog.SPAN_KEY, f"{it}|{phase}|plan")
            df = self.gates[gate](self.spark, self.in_dir)
            b = time.perf_counter()
            sc.setLocalProperty(eventlog.SPAN_KEY, f"{it}|{phase}|action")
            rows = df.collect()
            c = time.perf_counter()
            results[phase] = (df.columns, rows)
            span[phase] = (b - a, c - b)
        wall = time.perf_counter() - t0
        cpu = procs.tree_cpu_s(os.getpid()) - cpu0
        sc.setLocalProperty(eventlog.SPAN_KEY, None)
        self.spans.append(span)
        self._check(it, results)
        return wall, cpu

    def _check(self, it: int, results: dict) -> None:
        self.attempted += 1
        bad = []
        for phase, (cols, rows) in results.items():
            got = (sorted(cols), len(rows),
                   self.hash(cols, [tuple(r) for r in rows]))
            if got != self.expected[phase]:
                bad.append(f"{phase}: got {got[:2]} want "
                           f"{self.expected[phase][:2]}, hash "
                           f"{'equal' if got[2] == self.expected[phase][2] else 'differs'}")
        if bad:
            self.failed += 1
            print(f"# iteration {it} WRONG: " + "; ".join(bad), flush=True)

    def warm_up(self, budget_s: float) -> list[float]:
        """Iterate until two iterations in a row fail to beat the best
        one before them by more than WARMUP_GAIN, or the budget is
        spent."""
        times: list[float] = []
        flat = 0
        start = time.perf_counter()
        while flat < 2 and time.perf_counter() - start < budget_s:
            t, _ = self.iterate()
            if times and t >= (1 - WARMUP_GAIN) * min(times):
                flat += 1
            else:
                flat = 0
            times.append(t)
        return times

    def timed(self, seconds: float, event_logger=None) -> dict:
        """Iterate for ``seconds``. With ``event_logger``, iterations
        alternate between logged and unlogged (the listener is detached
        from the bus for the unlogged ones) so that both halves see the
        same warm session."""
        out = {"wall": [], "cpu": [], "logged": [], "logged_its": [],
               "unlogged": []}
        jsc = self.spark.sparkContext._jsc.sc()
        start = time.perf_counter()
        k, least = 0, (3 if event_logger is None else 4)
        while k < least or time.perf_counter() - start < seconds:
            logged = event_logger is not None and k % 2 == 1
            if event_logger is not None and not logged:
                jsc.removeSparkListener(event_logger)
            it = self.n
            t, c = self.iterate()
            if event_logger is not None and not logged:
                jsc.listenerBus().addToEventLogQueue(event_logger)
            if event_logger is None:
                out["wall"].append(t)
                out["cpu"].append(c)
            elif logged:
                out["logged"].append(t)
                out["logged_its"].append(it)
            else:
                out["unlogged"].append(t)
            k += 1
        return out


# --------------------------------------------------------------- main

def _loadavg() -> str:
    return Path("/proc/loadavg").read_text().strip()


def _teardown(spark) -> None:
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
    procs.stop(procs.descendants(os.getpid()))


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, root: Path) -> int:
    import __spark_entry__ as entry

    wl = WORKLOADS[args.workload]
    work = root / ".bench_work"
    work.mkdir(exist_ok=True)
    stopped = procs.reap_recorded(work / "pids")
    print(f"# loadavg before: {_loadavg()}"
          + (f" (stopped {stopped} left over)" if stopped else ""))
    base = work / "inputs" / f"{args.workload}-{args.seed}"
    dirs = [base / f"r{i}" for i in range(REGISTRATIONS)]
    gen.write_inputs(dirs[0], args.seed, wl.n_orders, wl.n_docs)
    for d in dirs[1:]:
        shutil.copytree(dirs[0], d, dirs_exist_ok=True)
    trace_dir = None
    if args.trace:
        trace_dir = work / "eventlog"
        shutil.rmtree(trace_dir, ignore_errors=True)  # earlier runs' logs
    _environment(root, work, trace_dir)
    sys.path.insert(0, str(root / "tools"))
    gates = entry.queries()
    expected, items = _oracle(wl, dirs[0], entry.oracle_sql())

    t_run = time.perf_counter()
    spark, regs, rec = None, [], None
    try:
        with procs.PeakRss(os.getpid()) as rss:
            spark, start_s = _start()
            procs.record(work / "pids", os.getpid())
            # every copy of the inputs is a fresh directory to the
            # registration memo; the iterations read the last one
            regs = [_register(spark, wl, str(d)) for d in dirs]
            runner = Runner(spark, wl, str(dirs[-1]), gates, expected)
            t_cold = time.perf_counter()
            cold, _ = runner.iterate()
            procs.record(work / "pids", os.getpid())
            t_warm = time.perf_counter()
            warm = runner.warm_up(budget_s=2 * args.seconds)
            logger = None
            if args.trace:
                logger = spark.sparkContext._jsc.sc().eventLogger().get()
                app = spark.sparkContext.applicationId
            t_timed = time.perf_counter()
            rec = runner.timed(args.seconds * (2 if args.trace else 1),
                               logger)
            t_end = time.perf_counter()
        if args.trace:
            spark.stop()  # closes the event log
            spark = None
    finally:
        _teardown(spark)
    print(f"# loadavg after: {_loadavg()}")

    med = statistics.median
    print(f"# seconds: setup {t_cold - t_run:.1f}, cold {t_warm - t_cold:.1f},"
          f" warm-up {t_timed - t_warm:.1f}, timed {t_end - t_timed:.1f},"
          f" teardown {time.perf_counter() - t_end:.1f}")
    print(f"# {args.workload} seed={args.seed} items={items} ({wl.items})"
          f" cold={cold:.3f}s warm-up={[round(t, 3) for t in warm]}")
    result = {"correct": runner.failed == 0, "attempted": runner.attempted,
              "failed": runner.failed}
    if not args.trace:
        run_s = med(rec["wall"])
        print(f"# timed: n={len(rec['wall'])} "
              f"wall={[round(t, 3) for t in rec['wall']]}")
        result["metrics"] = {
            "setup_s": _metric(
                start_s + med(r["register_s"] for r in regs), "s"),
            "run_s": _metric(run_s, "s"),
            "items_per_s": _metric(items / run_s, "1/s"),
            "cpu_s": _metric(med(rec["cpu"]), "s"),
            "peak_rss_mb": _metric(rss.peak_mb, "MB"),
        }
    else:
        log_dir = trace_dir / f"eventlog_v2_{app}"
        result["metrics"] = _layer_metrics(runner, wl, start_s, regs,
                                           cold, rec, log_dir)
    print(json.dumps(result))
    return 0 if runner.failed == 0 else 1


LAYER_UNITS = {
    "cold_s": "s", "session.start_s": "s",
    "sqlgen.register_s": "s", "datagen.build_s": "s",
    "plan_s": "s", "action_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.jobs": "count", "exec.tasks": "count", "exec.task_skew": "ratio",
    "exchange.write_mb": "MB", "exchange.read_mb": "MB",
    "exchange.fetch_wait_s": "s", "exchange.spill_mb": "MB",
    "broadcast.mb": "MB", "broadcast.build_s": "s",
    "python.start_s": "s", "python.udf_s": "s", "python.map_s": "s",
    "python.grouped_s": "s", "python.cogrouped_s": "s",
    "python.share": "ratio",
    "arrow.sent_mb": "MB", "arrow.recv_mb": "MB", "arrow.rows": "count",
    "trace.overhead": "ratio",
}
PY_TIMES = ("python.udf_s", "python.map_s", "python.grouped_s",
            "python.cogrouped_s")


def _layer_metrics(runner: Runner, wl: Workload, start_s: float,
                   regs: list[dict], cold: float, rec: dict,
                   log_dir: Path) -> dict:
    """Per-iteration medians over the logged iterations, printed as a
    per-phase table first."""
    med = statistics.median
    spans = eventlog.span_metrics(log_dir)
    its = rec["logged_its"]
    rows = {}  # metric -> per-iteration values
    for it in its:
        per = eventlog.per_iteration(
            {k: v for k, v in spans.items() if k[0] == it}).get(it, {})
        sp = runner.spans[it]
        per["plan_s"] = sum(p for p, _ in sp.values())
        per["action_s"] = sum(a for _, a in sp.values())
        per["python.share"] = (sum(per.get(k, 0.0) for k in PY_TIMES)
                               / max(per.get("exec.run_s", 0.0), 1e-9))
        for k in LAYER_UNITS:
            rows.setdefault(k, []).append(per.get(k, 0.0))

    print("# per phase, median over logged iterations "
          f"(n={len(its)}; wall = plan_s + action_s):")
    cols = ("plan_s", "action_s", "exec.run_s", "exec.jobs", "exec.tasks",
            "python.start_s", *PY_TIMES, "exchange.write_mb",
            "broadcast.mb", "arrow.sent_mb")
    print("# " + "phase".ljust(18) + " ".join(c.rjust(18) for c in cols))
    for phase in wl.phases:
        vals = []
        for c in cols:
            if c in ("plan_s", "action_s"):
                i = 0 if c == "plan_s" else 1
                vals.append(med(runner.spans[it][phase][i] for it in its))
            else:
                vals.append(med(spans.get((it, phase), {}).get(c, 0.0)
                                for it in its))
        print("# " + phase.ljust(18)
              + " ".join(f"{v:18.3f}" for v in vals))
    logged, unlogged = med(rec["logged"]), med(rec["unlogged"])
    cover = [(sum(p + a for p, a in runner.spans[it].values()), w)
             for it, w in zip(its, rec["logged"])]
    print(f"# traced run_s={logged:.3f} untraced run_s={unlogged:.3f}; "
          "span coverage per iteration: "
          + ", ".join(f"{s / w:.3f}" for s, w in cover))

    out = {k: med(v) for k, v in rows.items()}
    out["cold_s"] = cold
    out["session.start_s"] = start_s
    for k in ("sqlgen.register_s", "datagen.build_s"):
        out[k] = med(r[k] for r in regs)
    out["trace.overhead"] = logged / unlogged - 1
    return {k: _metric(out[k], u) for k, u in LAYER_UNITS.items()}


def steady(args, root: Path) -> int:
    """Repeat the workload on ``args.steady`` consecutive seeds and
    print each end-to-end metric's median and quartiles against its
    bound (spread = (q3 - q1) / median)."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {m: [] for m in bounds}
    attempted = failed = 0
    correct = True
    for i in range(args.steady):
        cmd = [sys.executable, str(Path(__file__).relative_to(root)),
               "--workload", args.workload, "--seed", str(args.seed + i),
               "--seconds", str(args.seconds), "--trace", "0"]
        p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                           text=True, check=False)
        log = (root / ".bench_work" / "steady"
               / f"{args.workload}-{args.seed + i}.log")
        log.parent.mkdir(parents=True, exist_ok=True)
        log.write_text(p.stdout)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        correct &= res["correct"] and p.returncode == 0
        for m in values:
            values[m].append(res["metrics"][m]["value"])
        print(f"# seed {args.seed + i}: " + " ".join(
            f"{m}={res['metrics'][m]['value']:.4g}" for m in values),
            flush=True)
    print(f"# {'metric':14} {'q1':>10} {'median':>10} {'q3':>10} "
          f"{'spread':>8} {'bound':>6}")
    summary = {}
    for m, v in values.items():
        q1, q2, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / q2
        summary[m] = {"median": q2, "q1": q1, "q3": q3, "spread": spread,
                      "bound": bounds[m]}
        print(f"# {m:14} {q1:10.4g} {q2:10.4g} {q3:10.4g} {spread:8.3f} "
              f"{bounds[m]:6.2f}" + ("  OVER BOUND" if spread > bounds[m]
                                     else ""))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "steady": summary}))
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="repeat the untraced run on N seeds and "
                         "report spreads against BENCHMARK.json bounds")
    args = ap.parse_args(argv)
    root = Path.cwd()
    if not ((root / "dle").is_dir()
            and (root / "__spark_entry__.py").is_file()):
        print(f"error: {root} is not the root of a dle checkout "
              "(dle/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    if args.steady:
        return steady(args, root)
    return run(args, root)


if __name__ == "__main__":
    sys.exit(main())
