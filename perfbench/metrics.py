"""Metrics of one benchmark run, computed from the harness's result.

End-to-end metrics (untraced runs; every workload reports all three):

* ``setup_s``          JVM start to the start of the first timed op
                       (session, fixtures, warm-up included)
* ``kind_geomean_ms``  geometric mean over op kinds of each kind's median
                       latency
* ``cycle_s``          median time of one cycle of the workload

All are wall times. The report also prints the JVM's CPU time per cycle
and the share of machine CPU time the hypervisor stole during each op
and the run, a diagnostic of the host: runs under heavy steal are
slower for reasons outside the code.

Per-layer metrics (traced runs) are listed by ``per_layer_names``; a
layer a workload never enters reports 0. The workload-specific figures (refresh
time, per-statement-type medians, event latency ...) are in the report.
"""
import bisect
import json
import sys
import time
from collections import defaultdict

import stats

E2E = [("setup_s", "s"), ("kind_geomean_ms", "ms"), ("cycle_s", "s")]

STATEMENT_TYPES = ("insert", "update", "delete", "merge", "optimize", "vacuum",
                   "restore", "snapshot_read", "changes_read")
LAYERS = ("olist", "pipeline", "queries", "ext", "storage", "streaming", "spark",
          "harness")
STEAL_WARN = 0.1   # steal share of a run above which the report warns
GOLD_READS = ("g6_fact_order_items", "g9_revenue_rollup", "g10_category_kpis",
              "g12_delivery_sla")


def per_layer_names(entries):
    """(name, unit) of every per-layer metric, in report order."""
    out = [("spark.plan_ms", "ms"), ("spark.jobs", "count"), ("spark.tasks", "count"),
           ("spark.job_busy_ms", "ms"), ("spark.driver_gap_ms", "ms"),
           ("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"), ("spark.input_mb", "MB"),
           ("spark.files_read", "count"), ("spark.shuffle_write_mb", "MB"),
           ("spark.spill_mb", "MB"), ("spark.core_busy_ratio", "ratio"),
           ("spark.output_mb", "MB"), ("spark.output_files", "count")]
    for t in STATEMENT_TYPES:
        out += [(f"spark.plan_ms.{t}", "ms"), (f"spark.jobs.{t}", "count"),
                (f"spark.driver_gap_ms.{t}", "ms")]
    out.append(("ext.parse_ms", "ms"))
    out += [(f"ext.parse_ms.{t}", "ms") for t in STATEMENT_TYPES]
    out += [("storage.versions_published", "count"),
            ("storage.bytes_written_per_changed_row", "B"),
            ("storage.live_files", "count"), ("storage.space_amp", "ratio"),
            ("storage.files_scanned_ratio", "ratio"),
            ("storage.rows_returned_per_row_scanned", "ratio"),
            ("storage.read_at_plan_ms", "ms"), ("storage.changes_plan_ms", "ms"),
            ("storage.changes_exec_ms", "ms"),
            ("pipeline.run_s", "s"), ("olist.refresh_overhead_s", "s"),
            ("olist.committed_mb", "MB"), ("olist.committed_files", "count")]
    out += [(f"streaming.{m}", "ms") for m in (
        "trigger_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
        "latest_offset_ms", "get_batch_ms", "query_planning_ms", "pickup_lag_ms",
        "hop_gap_ms")]
    out += [("streaming.nonempty_batch_ratio", "ratio"), ("streaming.state_rows", "count"),
            ("streaming.state_mb", "MB"), ("streaming.state_commit_ms", "ms")]
    out += [(f"entry.{e}_ms", "ms") for e in list(entries) + list(GOLD_READS)]
    out += [(f"self.{layer}_ms", "ms") for layer in LAYERS]
    return out


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ---------------------------------------------------------------- e2e --

def cycles(ops, ms=lambda o: o["ms"]):
    by = defaultdict(float)
    for o in ops:
        by[o["cycle"]] += ms(o)
    return [v / 1000.0 for _, v in sorted(by.items())]


def end_to_end(result):
    ops = result["ops"]
    if not ops:
        raise RuntimeError("no timed op completed")
    by_kind = defaultdict(list)
    for o in ops:
        by_kind[o["type"]].append(o["ms"])
    first = min(o["start_ms"] for o in ops)
    return {
        "setup_s": (first - result["jvm_start_ms"]) / 1000.0,
        "kind_geomean_ms": stats.geomean(stats.median(v) for v in by_kind.values()),
        "cycle_s": stats.median(cycles(ops)),
    }


def workload_figures(workload, result):
    """The workload's own named figures: {name: (unit, samples)}."""
    ops = result["ops"]
    def ms(pred):
        return [o["ms"] for o in ops if pred(o)]
    common = {"cycle_cpu_s": ("s", cycles(ops, lambda o: o["cpu_ms"])),
              "op_steal_share": ("ratio", [o["steal_share"] for o in ops])}
    if workload == "medallion_refresh":
        per = {k: defaultdict(float) for k in ("refresh", "gold", "entry")}
        for o in ops:
            per[o["kind"]][o["cycle"]] += o["ms"] / 1000.0
        by = defaultdict(list)
        for o in ops:
            if o["kind"] == "entry":
                by[o["name"]].append(o["ms"])
        return {**common, "refresh_s": ("s", list(per["refresh"].values())),
                "gold_pass_s": ("s", list(per["gold"].values())),
                "entries_pass_s": ("s", list(per["entry"].values())),
                "entries_geomean_ms": ("ms", [stats.geomean(stats.median(v)
                                                            for v in by.values())]
                                       if by else [])}
    if workload == "lifecycle_stream":
        out = {f"{t}_p50_ms": ("ms", ms(lambda o, t=t: o["type"] == t))
               for t in STATEMENT_TYPES}
        out.update(common)
        out["statement_p90_ms"] = ("ms", ms(lambda o: o["kind"] == "statement"))
        lat = ms(lambda o: o["kind"] == "file")
        out.update({"event_latency_p50_ms": ("ms", lat), "event_latency_p90_ms": ("ms", lat)})
        return out
    return {}


# ---------------------------------------------------------- per layer --

class Trace:
    """Index of one traced run's records by op. Ops run one at a time,
    so a job or query execution belongs to the op whose interval holds
    its start (engine thread pools do not carry the op's job group)."""

    def __init__(self, result):
        t = result["trace"]
        self.ops = {o["id"]: o for o in result["ops"]}
        self._starts = sorted((o["start_ms"], o["start_ms"] + o["ms"], oid)
                              for oid, o in self.ops.items())
        ends = {j["job"]: j["end_ms"] for j in t["job_ends"]}
        self.jobs = [dict(j, end_ms=ends.get(j["job"], j["start_ms"]),
                          op=self.op_at(j["start_ms"])) for j in t["jobs"]]
        stage_job = {s: j for j in self.jobs for s in j["stages"]}
        self.stages = [dict(s, op=stage_job[s["stage"]]["op"]) for s in t["stages"]
                       if s["stage"] in stage_job]
        self.plans = [dict(p, op=self.op_at(p["start_ms"])) for p in t["plans"]]
        self.spans = t["spans"]
        self.records = t["records"]
        self.progress = t["progress"]

    def op_at(self, ms):
        i = bisect.bisect_right(self._starts, (ms, float("inf"), 0)) - 1
        if i >= 0 and self._starts[i][0] <= ms <= self._starts[i][1]:
            return self._starts[i][2]
        return None

    def op_interval(self, o):
        return (o["start_ms"], o["start_ms"] + o["ms"])

    def op_jobs(self, oid):
        return [j for j in self.jobs if j["op"] == oid]

    def op_stages(self, oid):
        return [s for s in self.stages if s["op"] == oid]

    def op_plans(self, oid):
        return [p for p in self.plans if p["op"] == oid]


def _plan_ms(p):
    ph = p["phases"]
    return sum(ph.get(k, 0) for k in ("analysis", "optimization", "planning"))


def spark_layer(tr, cpus):
    per_op = {}
    for oid, o in tr.ops.items():
        lo, hi = tr.op_interval(o)
        jobs = tr.op_jobs(oid)
        busy = _union_ms(_clip([(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi))
        st = tr.op_stages(oid)
        pl = tr.op_plans(oid)
        per_op[oid] = {
            "plan_ms": sum(_plan_ms(p) for p in pl),
            "jobs": len(jobs), "tasks": sum(s["tasks"] for s in st),
            "job_busy_ms": busy, "driver_gap_ms": max(0.0, o["ms"] - busy),
            "task_cpu_ms": sum(s.get("cpu_ns", 0) for s in st) / 1e6,
            "task_run_ms": sum(s.get("run_ms", 0) for s in st),
            "gc_ms": sum(s.get("gc_ms", 0) for s in st),
            "input_mb": sum(s.get("input_bytes", 0) for s in st) / 1e6,
            "files_read": sum(p["files_read"] for p in pl),
            "rows_scanned": sum(p["rows_scanned"] for p in pl),
            "shuffle_write_mb": sum(s.get("shuffle_write_bytes", 0) for s in st) / 1e6,
            "spill_mb": sum(s.get("spill_bytes", 0) for s in st) / 1e6,
            "output_mb": sum(s.get("output_bytes", 0) for s in st) / 1e6,
            "output_files": sum(p["output_files"] for p in pl),
        }
    out = {}
    for k in ("plan_ms", "jobs", "tasks", "job_busy_ms", "driver_gap_ms", "task_cpu_ms",
              "gc_ms", "input_mb", "files_read", "shuffle_write_mb", "spill_mb",
              "output_mb", "output_files"):
        out[f"spark.{k}"] = _mean(v[k] for v in per_op.values())
    wall = sum(o["ms"] for o in tr.ops.values())
    out["spark.core_busy_ratio"] = (sum(v["task_run_ms"] for v in per_op.values())
                                    / (wall * cpus) if wall else 0.0)
    for t in STATEMENT_TYPES:
        ids = [oid for oid, o in tr.ops.items() if o["type"] == t]
        for k in ("plan_ms", "jobs", "driver_gap_ms"):
            out[f"spark.{k}.{t}"] = _mean(per_op[i][k] for i in ids)
    return out, per_op


def ext_layer(tr):
    parse = [s for s in tr.spans if s["layer"] == "ext" and s["name"] == "parsePlan"]
    out = {"ext.parse_ms": _mean(s["ms"] for s in parse)}
    for t in STATEMENT_TYPES:
        out[f"ext.parse_ms.{t}"] = _mean(s["ms"] for s in parse if s.get("type") == t)
    return out


def _new_bytes(before, after):
    old = set(before["inodes"])
    return sum(sz for ino, sz in zip(after["inodes"], after["sizes"]) if ino not in old)


def storage_layer(tr, per_op, result):
    out = {k: 0.0 for k in (
        "storage.versions_published", "storage.bytes_written_per_changed_row",
        "storage.live_files", "storage.space_amp", "storage.files_scanned_ratio",
        "storage.rows_returned_per_row_scanned", "storage.read_at_plan_ms",
        "storage.changes_plan_ms", "storage.changes_exec_ms")}
    recs = [r for r in tr.records if r["kind"] == "storage" and r["op"] >= 0]
    if not recs:
        return out
    changed = result.get("changed_rows", {})
    written = rows = 0
    versions = 0
    amp, live, scanned, returned = [], [], [], []
    for r in recs:
        b, a = r["before"], r["after"]
        versions += max(0, a["snapshot_version"] - b["snapshot_version"])
        live.append(a["live_files"])
        if a["live_bytes"]:
            amp.append(a["root_bytes"] / a["live_bytes"])
        if r["type"] in ("update", "delete", "merge"):
            written += _new_bytes(b, a)
            rows += changed.get(str(r["stmt"]), changed.get(r["stmt"], 0))
        if r["type"] in ("snapshot_read", "changes_read"):
            po = per_op.get(r["op"], {})
            if b["live_files"]:
                scanned.append(po.get("files_read", 0) / b["live_files"])
            if po.get("rows_scanned"):
                returned.append(r["rows"] / po["rows_scanned"])
    def span_ms(name):
        return _mean(s["ms"] for s in tr.spans if s["name"] == name)
    out.update({
        "storage.versions_published": float(versions),
        "storage.bytes_written_per_changed_row": written / rows if rows else 0.0,
        "storage.live_files": _mean(live), "storage.space_amp": _mean(amp),
        "storage.files_scanned_ratio": _mean(scanned),
        "storage.rows_returned_per_row_scanned": _mean(returned),
        "storage.read_at_plan_ms": span_ms("DeletionVectors.readAt"),
        "storage.changes_plan_ms": span_ms("DeletionVectors.changesBetween"),
        "storage.changes_exec_ms": span_ms("changes.exec")})
    return out


def medallion_layer(tr, result):
    def span_s(name):
        return _mean(s["ms"] / 1000.0 for s in tr.spans if s["name"] == name)
    return {"pipeline.run_s": span_s("Pipeline.run"),
            "olist.refresh_overhead_s": span_s("drop tables"),
            "olist.committed_mb": result.get("committed_bytes", 0) / 1e6,
            "olist.committed_files": float(result.get("committed_files", 0))}


DURATION_KEYS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                 "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
                 "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
                 "query_planning_ms": "queryPlanning"}


def streaming_layer(tr, result):
    out = {f"streaming.{k}": 0.0 for k in list(DURATION_KEYS) + [
        "pickup_lag_ms", "hop_gap_ms", "nonempty_batch_ratio", "state_rows",
        "state_mb", "state_commit_ms"]}
    lo = result["window_start_ms"]
    hi = result["window_end_ms"]
    prog = [p for p in tr.progress if lo <= p["start_ms"] <= hi]
    if not prog:
        return out
    full = [p for p in prog if p["rows"] > 0]
    for k, d in DURATION_KEYS.items():
        out[f"streaming.{k}"] = _mean(p["durations"].get(d, 0) for p in full)
    out["streaming.nonempty_batch_ratio"] = len(full) / len(prog)
    bronze = sorted((p for p in full if p["query"] == "bronze"), key=lambda p: p["start_ms"])
    silver = sorted((p for p in full if p["query"] == "silver"), key=lambda p: p["start_ms"])
    def first_after(batches, ms):
        return next((b for b in batches if b["start_ms"] >= ms), None)
    lags, gaps = [], []
    for o in (o for o in tr.ops.values() if o["kind"] == "file"):
        b = first_after(bronze, o["start_ms"])
        s = first_after(silver, o["start_ms"])
        if b:
            lags.append(b["start_ms"] - o["start_ms"])
        if b and s:
            # Bronze publishes its version at the end of addBatch; silver
            # sees it when its latestOffset returns.
            published = b["start_ms"] + b["durations"].get("triggerExecution", 0) \
                - b["durations"].get("commitOffsets", 0)
            seen = s["start_ms"] + s["durations"].get("latestOffset", 0)
            gaps.append(max(0, seen - published))
    out["streaming.pickup_lag_ms"] = _mean(lags)
    out["streaming.hop_gap_ms"] = _mean(gaps)
    if silver:
        out["streaming.state_rows"] = float(silver[-1]["state_rows"])
        out["streaming.state_mb"] = silver[-1]["state_bytes"] / 1e6
        out["streaming.state_commit_ms"] = _mean(s["state_commit_ms"] for s in silver)
    return out


OP_LAYER = {"refresh": "olist", "gold": "queries", "entry": "queries",
            "statement": "ext", "file": "streaming"}


def self_times(tr):
    """Self time per layer (ms, summed over the run): a span's duration
    minus the part of it its children cover. Nesting: op -> harness
    layer spans -> Spark jobs (detached spans sit beside ops)."""
    total = defaultdict(float)
    jobs = [(j["start_ms"], j["end_ms"]) for j in tr.jobs]
    def spark_within(lo, hi):
        return _union_ms(_clip(jobs, lo, hi))
    spans_by_op = defaultdict(list)
    for s in tr.spans:
        spans_by_op[s["op"]].append(s)
    for oid, o in tr.ops.items():
        lo, hi = tr.op_interval(o)
        kids = [(s["start_ms"], s["start_ms"] + s["ms"]) for s in spans_by_op.get(oid, [])]
        covered = _union_ms(_clip(kids + jobs, lo, hi))
        total[OP_LAYER.get(o["kind"], "harness")] += max(0.0, o["ms"] - covered)
        for s in spans_by_op.get(oid, []):
            slo, shi = s["start_ms"], s["start_ms"] + s["ms"]
            total[s["layer"]] += max(0.0, s["ms"] - spark_within(slo, shi))
        total["spark"] += spark_within(lo, hi)
    for s in spans_by_op.get(-1, []):
        slo, shi = s["start_ms"], s["start_ms"] + s["ms"]
        inner = spark_within(slo, shi)
        total[s["layer"]] += max(0.0, s["ms"] - inner)
        total["spark"] += inner
    return {layer: total.get(layer, 0.0) for layer in LAYERS}


def per_layer(result, entries, cpus):
    tr = Trace(result)
    out, per_op = spark_layer(tr, cpus)
    out.update(ext_layer(tr))
    out.update(storage_layer(tr, per_op, result))
    out.update(medallion_layer(tr, result))
    out.update(streaming_layer(tr, result))
    by = defaultdict(list)
    for o in result["ops"]:
        by[o["name"]].append(o["ms"])
    for e in list(entries) + list(GOLD_READS):
        out[f"entry.{e}_ms"] = stats.median(by[e]) if by.get(e) else 0.0
    selfs = self_times(tr)
    n_ops = max(1, len(result["ops"]))
    for layer, ms in selfs.items():
        out[f"self.{layer}_ms"] = ms / n_ops
    return out, selfs


# ------------------------------------------------------------ results --

def compute(workload, result, verdicts, info, started, entries, trace):
    ops = result["ops"]
    bad_checks = sorted(k for k, v in verdicts.items() if v)
    errored = [o for o in ops if not o["ok"]]
    # A wrong result fails the op that produced it; checks on state (the
    # final table, committed gold tables, the drained silver table) fail
    # one op each.
    failed_ids = {o["id"] for o in errored}
    for name in bad_checks:
        hit = [o["id"] for o in ops if o["name"] == name]
        failed_ids.update(hit or [f"check:{name}"])
    res = {
        "workload": workload, "info": info, "entries": list(entries),
        "correct": not bad_checks and not errored,
        "attempted": len(ops), "failed": min(len(failed_ids), max(1, len(ops))),
        "bad_checks": {k: verdicts[k] for k in bad_checks},
        "errors": [(o["name"], o["err"]) for o in errored][:5],
        "checks": len(verdicts),
        "e2e": end_to_end(result) if ops else {},
        "figures": {k: (u, v) for k, (u, v) in workload_figures(workload, result).items() if v},
        "cpus": result["cpus"], "conf": result["conf"],
        "spark_version": result["spark_version"],
        "wall_s": None,
    }
    if trace:
        res["layers"], res["self_ms"] = per_layer(result, entries, result["cpus"])
    res["wall_s"] = time.time() - started
    return res


def result_line(res, trace):
    units = dict(E2E)
    if trace:
        names = per_layer_names(res["entries"])
        vals = res["layers"]
        m = {n: {"value": float(vals.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        m = {n: {"value": float(res["e2e"][n]), "unit": units[n]} for n, _ in E2E}
    return {"correct": bool(res["correct"]), "attempted": int(max(1, res["attempted"])),
            "failed": int(res["failed"]), "metrics": m}


def _fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def print_report(res, traced=None, out=None):
    out = out or sys.stdout
    w = res["workload"]
    print(f"== {w}: correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']} checks={res['checks']} cpus={res['cpus']} "
          f"wall={res['wall_s']:.1f}s", file=out)
    for k, v in res["bad_checks"].items():
        print(f"   INCORRECT {k}: {'; '.join(v)[:200]}", file=out)
    for name, err in res["errors"]:
        print(f"   FAILED {name}: {err[:200]}", file=out)
    print(f"   inputs: {json.dumps(res['info'], sort_keys=True)}", file=out)
    print(f"   spark {res['spark_version']} conf: {json.dumps(res['conf'], sort_keys=True)}",
          file=out)
    steal = res["info"].get("host_steal_share", 0.0)
    if steal > STEAL_WARN:
        print(f"   WARNING: the hypervisor stole {100 * steal:.0f}% of the machine's CPU "
              "time during this run; its timings are the host's as much as the code's",
              file=out)
    for name, (unit, xs) in res["figures"].items():
        s = stats.summary(xs)
        stat = "p90" if name.endswith("_p90_ms") else "median"
        print(f"   {name} {unit}  {stat}={s[stat]:.4g} median={s['median']:.4g} "
              f"q1={s['q1']:.4g} q3={s['q3']:.4g} n={s['n']}", file=out)
    for k, v in res["e2e"].items():
        print(f"   e2e {k}={_fmt(v)}", file=out)
    if traced is not None:
        print("   tracing overhead (traced - untraced):", file=out)
        for k in res["e2e"]:
            print(f"     {k}: {traced['e2e'][k] - res['e2e'][k]:+.4g}", file=out)
        res = traced
    if "self_ms" in res:
        tot = sum(res["self_ms"].values()) or 1.0
        print("   self time per layer (ms over the run, share):", file=out)
        for layer, ms in sorted(res["self_ms"].items(), key=lambda kv: -kv[1]):
            print(f"     {layer:10s} {ms:10.1f}  {100 * ms / tot:5.1f}%", file=out)
        print("   per-layer metrics:", file=out)
        for k, v in res["layers"].items():
            if v:
                print(f"     {k} = {_fmt(v)}", file=out)
