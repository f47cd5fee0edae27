"""Metric arithmetic of the benchmark: raw harness samples in, metrics out.

Pure functions over the JSON the harness JVM writes; perfbench/test_metrics.py
pins the rules (percentile support, span self time, core-busy ratio).
"""
import math
import statistics

# a percentile is reported only when at least this many samples lie beyond it
PERCENTILE_SUPPORT = 10

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "values_per_s": "1/s",
    "peak_heap_mb": "MB",
}

PER_LAYER = {
    "tok.scan_s": "s", "tok.boundaries_s": "s", "tok.discretize_s": "s",
    "tok.boundary_jobs": "count", "tok.input_passes": "ratio",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "codegen.compiles": "count",
    "op.build_s": "s", "op.exec_s": "s",
    "exec.jobs": "count", "exec.tasks": "count", "exec.task_cpu_s": "s",
    "exec.task_offcpu_s": "s", "exec.task_wait_s": "s", "exec.core_busy_ratio": "ratio",
    "exec.task_gc_s": "s", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "stream.batches": "count", "stream.add_batch_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "fs.process_spawns": "count", "fs.write_ops": "count", "fs.bytes_written_mb": "MB",
    "jvm.gc_s": "s", "jvm.cpu_s": "s",
    "trace.run_s": "s", "trace.overhead_s": "s", "trace.unattributed_s": "s",
}

MB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def trimmed_mean(xs):
    """Mean of xs without its lowest and its highest value (of all of xs
    when there are fewer than three). A pass hit by a host hiccup drops
    out, and every other pass counts, where the median of a few passes
    rests on one or two of them."""
    xs = sorted(xs)
    if len(xs) >= 3:
        xs = xs[1:-1]
    return statistics.fmean(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def supported_percentile(samples, p, support=PERCENTILE_SUPPORT):
    """Nearest-rank p-th percentile (0 < p < 1), or None unless at least
    `support` samples lie strictly beyond its rank."""
    n = len(samples)
    rank = math.ceil(p * n)
    if n == 0 or n - rank < support:
        return None
    return sorted(samples)[rank - 1]


def self_times(spans):
    """Span id -> wall time not covered by the span's direct children."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    return {s["id"]: s["wall_s"] - child.get(s["id"], 0.0) for s in spans}


def core_busy_ratio(task_run_s, wall_s, cores):
    """Share of the cores' time that tasks spent running: sum of task run
    time over (wall x cores)."""
    return task_run_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def within(events, t0_ms, t1_ms):
    return [e for e in events if t0_ms <= e["t_ms"] <= t1_ms]


class Passes:
    """The raw result indexed by pass: root span, op spans, leaf spans."""

    def __init__(self, raw):
        self.spans = raw["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.passes = raw["passes"]

    def run(self, p):
        return self.by_id[p["span"]]

    def descendants(self, span):
        out, todo = [], list(self.children.get(span["id"], []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def ops(self, p):
        return [s for s in self.children.get(p["span"], []) if s["name"] == "op"]

    def untraced(self):
        return [p for p in self.passes if not p["traced"]]

    def traced(self):
        return [p for p in self.passes if p["traced"]]


def end_to_end(raw, ps):
    passes = ps.untraced()
    run_s = trimmed_mean([ps.run(p)["wall_s"] for p in passes])
    return {
        "setup_s": median(raw["setup_s"]),
        "run_s": run_s,
        "values_per_s": raw["values_per_pass"] / run_s if run_s > 0 else 0.0,
        "peak_heap_mb": trimmed_mean([p["heap_peak_mb"] for p in passes]),
    }


def layer_sample(raw, ps, p):
    """Every per-layer metric for one traced pass."""
    ev = raw["events"]
    run = ps.run(p)
    t0, t1, wall = run["t0_ms"], run["t1_ms"], run["wall_s"]
    spans = ps.descendants(run)
    tasks, jobs = within(ev["tasks"], t0, t1), within(ev["jobs"], t0, t1)
    plans, batches = within(ev["plans"], t0, t1), within(ev["batches"], t0, t1)
    spawns = [t for t in ev["spawns"] if t0 <= t <= t1]
    cores = raw["env"]["cores"]
    c = run["counters"]

    def walls(name):
        return sum(s["wall_s"] for s in spans if s["name"] == name)

    op_input = sum(s["counters"]["io_read_bytes"] for s in spans if s["name"] == "op")
    data_bytes = raw["workload"].get("data_bytes", 0)
    boundary_jobs = sum(len(within(ev["jobs"], s["t0_ms"], s["t1_ms"]))
                        for s in spans if s["name"] == "boundaries")
    selfs = self_times([run] + spans)
    leaves = {s["id"] for s in spans} - {s["parent"] for s in spans}
    run_s = sum(t["run_ms"] for t in tasks) / 1e3
    return {
        "tok.scan_s": walls("scan"),
        "tok.boundaries_s": walls("boundaries"),
        "tok.discretize_s": walls("discretize"),
        "tok.boundary_jobs": boundary_jobs,
        "tok.input_passes": op_input / data_bytes if data_bytes else 0.0,
        "plan.analysis_s": sum(q["analysis_ms"] for q in plans) / 1e3,
        "plan.optimization_s": sum(q["optimization_ms"] for q in plans) / 1e3,
        "plan.planning_s": sum(q["planning_ms"] for q in plans) / 1e3,
        "codegen.compiles": c["codegen_compiles"],
        "op.build_s": walls("build"),
        "op.exec_s": walls("exec"),
        "exec.jobs": len(jobs),
        "exec.tasks": len(tasks),
        "exec.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.task_offcpu_s": sum(max(0.0, t["run_ms"] / 1e3 - t["cpu_ns"] / 1e9)
                                  for t in tasks),
        "exec.task_wait_s": sum(max(0.0, t["duration_ms"] - t["run_ms"])
                                for t in tasks) / 1e3,
        "exec.core_busy_ratio": core_busy_ratio(run_s, wall, cores),
        "exec.task_gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "exec.shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / MB,
        "exec.spill_mb": sum(t["spill_disk_bytes"] for t in tasks) / MB,
        "exec.failed_tasks": sum(t["failed"] for t in tasks),
        "stream.batches": len(batches),
        "stream.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
        "stream.wal_commit_s": sum(b["wal_commit_ms"] for b in batches) / 1e3,
        "stream.commit_offsets_s": sum(b["commit_offsets_ms"] for b in batches) / 1e3,
        "fs.process_spawns": len(spawns),
        "fs.write_ops": c["io_write_calls"],
        "fs.bytes_written_mb": c["fs_bytes_written"] / MB,
        "jvm.gc_s": c["gc_s"],
        "jvm.cpu_s": c["cpu_s"],
        "trace.run_s": wall,
        "trace.unattributed_s": sum(v for k, v in selfs.items() if k not in leaves),
    }


def per_layer(raw, ps):
    samples = [layer_sample(raw, ps, p) for p in ps.traced()]
    out = {k: median([s[k] for s in samples]) for k in PER_LAYER if k != "trace.overhead_s"}
    untraced = [ps.run(p)["wall_s"] for p in ps.untraced()]
    out["trace.overhead_s"] = out["trace.run_s"] - median(untraced)
    return {k: out[k] for k in PER_LAYER}


def ref_failures(raw, checks):
    """Failed checks of the reference pipeline: a pass whose call returned
    another row count, or a token output that breaks the bin-occupancy rule
    or has another checksum than the first output."""
    w = raw["workload"]
    rows, cols, bins = w["rows"], w["cols"], w["bins"]
    lo, hi = rows // bins - 2, -(-rows // bins) + 2
    first = next((c["checksum"] for c in checks if "checksum" in c), None)
    bad = []
    for c in checks:
        ok = c["rows"] == rows and (
            "checksum" not in c
            or (c["columns"] == cols and c["bins_min"] == bins and c["bins_max"] == bins
                and c["count_min"] >= lo and c["count_max"] <= hi
                and c["checksum"] == first))
        if not ok:
            bad.append(c)
    return bad


def ref_failed_passes(raw, n_passes):
    """pass or output -> failed passes. A wrong token output, or none,
    fails every pass; otherwise a pass fails on its own row count."""
    checks = raw["checks"]
    bad = ref_failures(raw, checks)
    outputs = [c for c in checks if "checksum" in c]
    wrong = [c for c in bad if "checksum" in c]
    if wrong or not outputs:
        return ({f"tokens of set-up {c['setup']}": n_passes for c in wrong}
                or {"no token output": n_passes})
    checked = {c["pass"] for c in checks if "pass" in c}
    failed = {f"pass {c['pass']}": 1 for c in bad}
    failed.update({f"pass {i}": 1 for i in range(n_passes) if i not in checked})
    return failed


def mix_failures(raw, pins, n_passes):
    """op -> failed executions: raised in a pass, or output off its pin."""
    errors = {}
    for e in raw.get("errors", []):
        errors[e["op"]] = errors.get(e["op"], 0) + 1
    failed = {}
    checks = {c["op"]: c for c in raw["checks"]}
    for op in raw["workload"]["ops"]:
        c, pin = checks.get(op, {}), pins.get(op)
        wrong = ("error" in c or pin is None or c.get("rows") != pin["rows"]
                 or c.get("fingerprint") != pin["fingerprint"])
        n = errors.get(op, 0) + (n_passes - errors.get(op, 0) if wrong else 0)
        if n:
            failed[op] = n
    return failed


def report(raw, pins):
    ps = Passes(raw)
    n_passes = len(ps.passes)
    op_walls = [s["wall_s"] for p in ps.untraced() for s in ps.ops(p)]
    if "ops" in raw["workload"]:
        failed_ops = mix_failures(raw, pins, n_passes)
        attempted = n_passes * len(raw["workload"]["ops"])
        failed = sum(failed_ops.values())
    else:
        failed_ops = ref_failed_passes(raw, n_passes)
        attempted = n_passes
        failed = min(n_passes, sum(failed_ops.values()))
    walls = [ps.run(p)["wall_s"] for p in ps.untraced()]
    per_op = {}
    for p in ps.untraced():
        for s in ps.ops(p):
            parts = {c["name"]: c["wall_s"] for c in ps.children.get(s["id"], [])}
            per_op.setdefault(s["label"], []).append(
                (s["wall_s"], parts.get("build", 0.0), parts.get("exec", 0.0)))
    out = {
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end(raw, ps).items()},
        "attempted": attempted,
        "failed": failed,
        "failed_ops": failed_ops,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "run_s_quartiles": quartiles(walls),
        "cpu_s": median([ps.run(p)["counters"]["cpu_s"] for p in ps.untraced()]),
        "peak_rss_mb": raw["peak_rss_mb"],
        "setup_s_all": raw["setup_s"],
        "op_samples": len(op_walls),
        "op_s_p50": supported_percentile(op_walls, 0.5),
        "op_s_p90": supported_percentile(op_walls, 0.9),
        "ops": {k: {"wall_s": median([x[0] for x in v]), "build_s": median([x[1] for x in v]),
                    "exec_s": median([x[2] for x in v])} for k, v in per_op.items()},
    }
    if ps.traced():
        out["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]}
                            for k, v in per_layer(raw, ps).items()}
    return out


def summary(raw, rep):
    """Human-readable lines printed before the result line."""
    e = raw["env"]
    lines = [f"perfbench workload={e['workload']} seed={e['seed']} trace={int(e['trace'])} "
             f"nproc={e['nproc']} master={e['master']} xmx={e['xmx_mb']}m "
             f"spark={e['spark_version']} java={e['java_version']}"]
    ps = Passes(raw)
    for p in ps.passes:
        r = ps.run(p)
        lines.append(f"  pass {p['pass']:2d} {'traced  ' if p['traced'] else 'untraced'} "
                     f"run_s={r['wall_s']:.3f} cpu_s={r['counters']['cpu_s']:.2f} "
                     f"heap={p['heap_peak_mb']:.1f}MB load={p['load']:.2f} "
                     f"steal={p['steal_pct']:.2f}%")
    for k, m in rep["end_to_end"].items():
        lines.append(f"  {k:<14} {m['value']:.6g} {m['unit']}")
    lines.append(f"  cpu_s          {rep['cpu_s']:.6g} s (process CPU per pass)")
    lines.append(f"  peak_rss_mb    {rep['peak_rss_mb']:.6g} MB (VmHWM of the whole run)")
    q1, q2, q3 = rep["run_s_quartiles"]
    lines.append(f"  run_s quartiles {q1:.4f} / {q2:.4f} / {q3:.4f} s; "
                 f"setup_s samples {', '.join(f'{s:.3f}' for s in rep['setup_s_all'])}")
    for k in ("op_s_p50", "op_s_p90"):
        v = rep[k]
        lines.append(f"  {k:<14} " + (f"{v:.6g} s (n={rep['op_samples']})" if v is not None
                                      else f"not reported: n={rep['op_samples']} leaves fewer "
                                           f"than {PERCENTILE_SUPPORT} samples beyond it"))
    lines.append(f"  fail_ratio     {rep['fail_ratio']:.6g} "
                 f"({rep['failed']}/{rep['attempted']}) {rep['failed_ops'] or ''}")
    for k, m in rep.get("per_layer", {}).items():
        lines.append(f"  {k:<24} {m['value']:.6g} {m['unit']}")
    return lines
