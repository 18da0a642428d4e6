"""Per-layer numbers from Spark's event log.

The benchmark tags every job with the local property ``SPAN_KEY`` set
to ``"<iteration>|<phase>|<plan|action>"``. This module reads the log
of one application (uncompressed, possibly rolled into several files)
and sums, per (iteration, phase):

* task metrics: executor run/CPU/GC time, shuffle bytes, fetch wait,
  spill, task count and per-task durations;
* SQL metrics of plan nodes, mapped from accumulator id to node through
  every plan the log holds, including adaptive re-plans: Python worker
  time per node kind, Arrow bytes and rows, broadcast size and build
  time.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

SPAN_KEY = "overlaybench.span"

# plan node name -> python.<kind>_s
PY_NODES = {
    "ArrowEvalPython": "udf",
    "BatchEvalPython": "udf",
    "MapInPandas": "map",
    "MapInArrow": "map",
    "FlatMapGroupsInPandas": "grouped",
    "FlatMapGroupsInArrow": "grouped",
    "FlatMapCoGroupsInPandas": "cogrouped",
    "FlatMapCoGroupsInArrow": "cogrouped",
}
MB = 2**20


def _events(log_dir: Path):
    files = sorted(log_dir.glob("events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no event log files in {log_dir}")
    for f in files:
        with f.open() as fh:
            for line in fh:
                yield json.loads(line)


def _walk(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", []):
        _walk(child, out)


def _node_kind(node: str) -> str:
    return node.split(" ")[0]


def _add_sql(tot: dict, node: str, name: str, value: int) -> None:
    kind = PY_NODES.get(_node_kind(node))
    if kind is not None:
        if name == "time to run Python workers":
            tot[f"python.{kind}_s"] += value / 1e3
        elif name in ("time to start Python workers",
                      "time to initialize Python workers"):
            tot["python.start_s"] += value / 1e3
        elif name == "data sent to Python workers":
            tot["arrow.sent_mb"] += value / MB
        elif name == "data returned from Python workers":
            tot["arrow.recv_mb"] += value / MB
        elif name == "number of output rows":
            tot["arrow.rows"] += value
    elif _node_kind(node) == "BroadcastExchange":
        if name == "data size":
            tot["broadcast.mb"] += value / MB
        elif name in ("time to collect", "time to build",
                      "time to broadcast"):
            tot["broadcast.build_s"] += value / 1e3


def span_metrics(log_dir: Path) -> dict[tuple[int, str], dict]:
    """{(iteration, phase): {metric: value}} for every tagged job."""
    acc_node: dict[int, tuple[str, str]] = {}
    stage_span: dict[int, tuple[int, str]] = {}
    exec_span: dict[int, tuple[int, str]] = {}
    tot: dict = defaultdict(lambda: defaultdict(float))
    durations: dict = defaultdict(lambda: defaultdict(list))
    driver_updates = []
    for e in _events(log_dir):
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _walk(e["sparkPlanInfo"], acc_node)
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get(SPAN_KEY)
            if tag is None:
                continue
            it, phase, _ = tag.split("|")
            span = (int(it), phase)
            tot[span]["exec.jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_span[sid] = span
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_span.setdefault(int(xid), span)
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(e["Stage ID"])
            if span is None:
                continue
            t, info, m = tot[span], e["Task Info"], e.get("Task Metrics")
            t["exec.tasks"] += 1
            durations[span][e["Stage ID"]].append(
                info["Finish Time"] - info["Launch Time"])
            if m:
                rd, wr = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                t["exec.run_s"] += m["Executor Run Time"] / 1e3
                t["exec.cpu_s"] += m["Executor CPU Time"] / 1e9
                t["exec.gc_s"] += m["JVM GC Time"] / 1e3
                t["exchange.write_mb"] += wr["Shuffle Bytes Written"] / MB
                t["exchange.read_mb"] += (rd["Local Bytes Read"]
                                          + rd["Remote Bytes Read"]) / MB
                t["exchange.fetch_wait_s"] += rd["Fetch Wait Time"] / 1e3
                t["exchange.spill_mb"] += m["Disk Bytes Spilled"] / MB
            for a in info.get("Accumulables", []):
                node = acc_node.get(a["ID"])
                if node is not None and "Update" in a:
                    _add_sql(t, *node, int(a["Update"]))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append(e)
    # driver-side SQL metrics (broadcast build) arrive per execution
    for e in driver_updates:
        span = exec_span.get(e["executionId"])
        if span is None:
            continue
        for acc_id, value in e["accumUpdates"]:
            node = acc_node.get(acc_id)
            if node is not None:
                _add_sql(tot[span], *node, int(value))
    out = {}
    for span, t in tot.items():
        stages = durations[span].values()
        widest = max(stages, key=len, default=[])
        t["exec.task_skew"] = (max(widest) / max(statistics.median(widest), 1)
                               if widest else 1.0)
        t["exec.widest_tasks"] = len(widest)
        out[span] = dict(t)
    return out


def per_iteration(spans: dict[tuple[int, str], dict]) -> dict[int, dict]:
    """Sum each iteration's phases. ``exec.task_skew`` is taken from the
    phase whose widest stage has the most tasks."""
    its: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    widest: dict[int, float] = defaultdict(float)
    for (it, _), t in spans.items():
        for k, v in t.items():
            if k not in ("exec.task_skew", "exec.widest_tasks"):
                its[it][k] += v
        if t["exec.widest_tasks"] > widest[it]:
            widest[it] = t["exec.widest_tasks"]
            its[it]["exec.task_skew"] = t["exec.task_skew"]
    return {it: dict(t) for it, t in its.items()}
