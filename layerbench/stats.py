"""Statistics of the layered benchmark: the raw JSON-lines records the
harness writes become the end-to-end and per-layer metrics here. Pure
functions only, so `test_stats.py` can check them without a JVM."""
import math
import statistics

MB = float(1 << 20)


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest percentile of `xs` that still has at least `beyond`
    samples above its rank. Returns (value, percentile, samples beyond),
    or None when there are too few samples for the rule."""
    n = len(xs)
    if n <= beyond:
        return None
    k = n - 1 - beyond
    return sorted(xs)[k], 100.0 * (k + 1) / n, n - 1 - k


def merged(intervals, lo, hi):
    """Union of (start, end) intervals clipped to [lo, hi], as sorted
    disjoint intervals."""
    out = []
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by at least one interval."""
    return sum(e - s for s, e in merged(intervals, lo, hi))


def covered_outside(intervals, others, lo, hi):
    """Length of [lo, hi] covered by `intervals` but by none of `others`."""
    return covered(list(intervals) + list(others), lo, hi) - covered(others, lo, hi)


def ref_ratios(walls, refs):
    """Each query's wall in units of the host reference run before it."""
    return [w / r for w, r in zip(walls, refs)]


def pass_ref(passes):
    """Median over passes of (sum of query wall / sum of reference wall);
    `passes` is a list of (walls, refs) pairs."""
    return median([sum(w) / sum(r) for w, r in passes])


def gmean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(setup, queries, end):
    """End-to-end metrics of an untraced run, as {name: (value, unit,
    note)}. `queries` are the query records of every timed pass; all of
    them must have succeeded."""
    walls = [q["wall_s"] for q in queries]
    refs = [q["ref_s"] for q in queries]
    ratios = ref_ratios(walls, refs)
    by_pass = {}
    for q in queries:
        w, r = by_pass.setdefault(q["pass"], ([], []))
        w.append(q["wall_s"])
        r.append(q["ref_s"])
    n = {"samples": len(walls)}
    m = {
        "query_p50_s": (median(walls), "s", n),
        "throughput_qps": (len(walls) / sum(walls), "queries/s", n),
        "cpu_per_query_s": (sum(q["cpu_s"] for q in queries) / len(walls), "CPU-s", n),
        "query_p50_ref": (median(ratios), "ref", n),
        "query_gmean_ref": (gmean(ratios), "ref", n),
        "pass_ref": (pass_ref(list(by_pass.values())), "ref", {"samples": len(by_pass)}),
        "setup_s": ((min(q["t0"] for q in queries) - setup["launch_ms"]) / 1e3, "s", {}),
        "retained_heap_mb": (end["heap_b"] / MB, "MB", {}),
    }
    t = tail(walls)
    if t:
        m["query_tail_s"] = (t[0], "s", {"percentile": t[1], "beyond": t[2], **n})
    return m


def in_window(recs, lo, hi):
    return [r for r in recs if lo <= r["start"] <= hi]


def per_layer(queries, jobs, stages, phases, batches, passes, untraced_walls, cores):
    """Per-layer metrics of the traced passes, each a total per pass
    (averaged over the traced passes), except the ratios. Listener
    records are attributed to the query whose [t0, t2] window holds
    their start time. Query wall splits into time with a job running
    (`sched.job_wall_s`), Catalyst phase time outside jobs
    (`plans.gap_s`) and the rest (`unattributed_s`). `trace.overhead` is
    the median traced pass wall over the median of `untraced_walls`, the
    untraced passes in the same warm-up state (the first pass left out)."""
    tot = dict.fromkeys([
        "operators.build_s", "operators.build_jobs",
        "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
        "plans.codegen_compile_s", "plans.codegen_classes", "plans.gap_s",
        "sched.jobs", "sched.stages", "sched.tasks", "sched.job_wall_s",
        "sched.driver_gap_s",
        "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
        "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
        "sources.input_mb", "sources.input_rows", "sources.output_mb",
        "sources.output_rows",
        "streaming.batches", "streaming.add_batch_s", "streaming.wal_commit_s",
        "streaming.commit_offsets_s", "streaming.latest_offset_s",
        "streaming.query_planning_s", "streaming.state_commit_s",
        "streaming.state_rows",
        "jvm.jit_s", "jvm.gc_s", "jvm.offtask_cpu_s",
        "trace.query_wall_s", "unattributed_s"], 0.0)
    for q in queries:
        lo, hi = q["t0"], q["t2"]
        qjobs = in_window(jobs, lo, hi)
        qstages = in_window(stages, lo, hi)
        qphases = in_window(phases, lo, hi)
        job_iv = [(j["start"], j["end"]) for j in qjobs]
        job_wall = covered(job_iv, lo, hi) / 1e3
        plan_gap = covered_outside([(p["start"], p["end"]) for p in qphases],
                                   job_iv, lo, hi) / 1e3
        add = {
            "operators.build_s": q["build_s"],
            "operators.build_jobs": sum(1 for j in qjobs if j["start"] <= q["t1"]),
            "plans.codegen_compile_s": q["codegen_s"],
            "plans.codegen_classes": q["codegen_classes"],
            "plans.gap_s": plan_gap,
            "sched.jobs": len(qjobs),
            "sched.stages": len(qstages),
            "sched.tasks": sum(s["tasks"] for s in qstages),
            "sched.job_wall_s": job_wall,
            "sched.driver_gap_s": q["wall_s"] - job_wall,
            "exec.task_run_s": sum(s["run_s"] for s in qstages),
            "exec.task_cpu_s": sum(s["cpu_s"] for s in qstages),
            "exec.task_gc_s": sum(s["gc_s"] for s in qstages),
            "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in qstages) / MB,
            "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in qstages) / MB,
            "exec.spill_mb": sum(s["spill_b"] for s in qstages) / MB,
            "sources.input_mb": sum(s["input_b"] for s in qstages) / MB,
            "sources.input_rows": sum(s["input_rows"] for s in qstages),
            "sources.output_mb": sum(s["output_b"] for s in qstages) / MB,
            "sources.output_rows": sum(s["output_rows"] for s in qstages),
            "jvm.jit_s": q["jit_s"],
            "jvm.gc_s": q["gc_s"],
            "jvm.offtask_cpu_s": q["cpu_s"] - sum(s["cpu_s"] for s in qstages),
            "trace.query_wall_s": q["wall_s"],
            "unattributed_s": q["wall_s"] - job_wall - plan_gap,
        }
        for phase in ("analysis", "optimization", "planning"):
            add["plans.%s_s" % phase] = sum(
                (p["end"] - p["start"]) / 1e3 for p in qphases if p["phase"] == phase)
        for b in in_window(batches, lo, hi):
            add["streaming.batches"] = add.get("streaming.batches", 0) + 1
            for k in ("add_batch_s", "wal_commit_s", "commit_offsets_s",
                      "latest_offset_s", "query_planning_s", "state_commit_s",
                      "state_rows"):
                add["streaming." + k] = add.get("streaming." + k, 0) + b[k]
        for k, v in add.items():
            tot[k] += v
    n = len(passes)
    out = {k: v / n for k, v in tot.items()}
    out["sched.slot_util"] = tot["exec.task_run_s"] / (tot["trace.query_wall_s"] * cores)
    out["sources.disk_mb"] = sum(p["disk_b"] for p in passes) / n / MB
    out["host.ref_s"] = median([q["ref_s"] for q in queries])
    traced_walls = {}
    for q in queries:
        traced_walls[q["pass"]] = traced_walls.get(q["pass"], 0.0) + q["wall_s"]
    out["trace.overhead"] = median(list(traced_walls.values())) / median(untraced_walls)
    return out


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("sched.slot_util", "trace.overhead"):
        return "ratio"
    return "count"
