"""The benchmark's own arithmetic: medians, self time, failure ratio,
run-to-run spread and the regression-bound comparison, plus the reduction
of one raw run record (written by graftbench.Main) to named metrics.

Kept free of I/O so that test_metrics.py can check it directly.
"""

import statistics

BATCH_OPS = [
    "graph.derive", "graph.pgraph", "algos.pagerank", "ingest.pagerank_ckpt",
    "algos.wcc", "algos.cdlp", "algos.triangles",
]
SERVE_OPS = [
    "gie.hop1", "gie.hop2", "gie.cr1", "gie.cr2", "gie.cr6", "gie.cr12",
    "ml.neighbor_sample", "ml.negative_sample", "ml.ann_sq8", "ml.ann_pq",
]
OP_FIELDS = ["wall_s", "driver_s", "jobs", "stages", "tasks", "task_cpu_s",
             "sched_wait_s", "shuffle_write_mb", "spill_mb", "gc_s"]
MB = 1024.0 * 1024.0


median = statistics.median


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def fail_ratio(failed, attempted):
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return failed / attempted


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(before, after, better):
    """Share by which `after` is worse than `before` (negative: better)."""
    if better == "lower":
        return (after - before) / before
    return (before - after) / before


def regressions(first, second, metrics):
    """Metrics whose median over `second` runs is worse than over `first`
    by more than their bound. `first`/`second` map metric name to a list of
    values; `metrics` is the end_to_end list of BENCHMARK.json."""
    out = []
    for m in metrics:
        w = worse_by(median(first[m["name"]]), median(second[m["name"]]),
                     m["better"])
        if w > m["bound"]:
            out.append((m["name"], w))
    return out


def end_to_end(rec):
    """End-to-end metrics of one run record.

    op_gmean_ms is the geometric mean over op kinds of each kind's median
    call latency: every kind weighs the same, and a run's few calls per
    kind give a steadier figure than the median over all calls, which
    rests on the one or two calls that land in the middle of the mix.
    """
    walls = [o["wall_s"] for o in rec["ops"]]
    by_kind = {}
    for o in rec["ops"]:
        by_kind.setdefault(o["kind"], []).append(o["wall_s"])
    kind_ms = [median(ws) * 1e3 for ws in by_kind.values()]
    return {
        "setup_s": median(rec["setup_s"]),
        "ops_per_s": len(walls) / sum(walls),
        "op_gmean_ms": statistics.geometric_mean(kind_ms),
    }


def op_costs(rec):
    """Per op call: wall, self (driver) time and the Spark work of the jobs
    run under its job group."""
    jobs_by_group, stages_by_job = {}, {}
    for j in rec["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    for s in rec["stages"]:
        stages_by_job.setdefault(s["job"], []).append(s)
    out = []
    for o in rec["ops"]:
        start, end = o["start_ms"] / 1e3, o["end_ms"] / 1e3
        jobs = jobs_by_group.get(o["group"], [])
        stages = [s for j in jobs for s in stages_by_job.get(j["id"], [])]
        job_iv = [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs]
        # Self time is measured on the ms clock the job events use; scale
        # it onto the nanosecond wall so the two parts add up to it.
        span = max(end - start, 1e-3)
        drv = self_time(start, end, job_iv) / span * o["wall_s"]
        out.append({
            "op": o,
            "wall_s": o["wall_s"],
            "driver_s": drv,
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "task_cpu_s": sum(s["cpu_s"] for s in stages),
            "sched_wait_s": sum(s["sched_wait_s"] for s in stages),
            "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / MB,
            "spill_mb": sum(s["spill_bytes"] for s in stages) / MB,
            "gc_s": sum(s["gc_s"] for s in stages),
        })
    return out


def steady_eps(op):
    """Median edges/s per superstep after two warm-up supersteps."""
    secs, edges = op["extra"]["superstep_s"], op["extra"]["superstep_edges"]
    pairs = [(e, s) for e, s in zip(edges, secs) if s > 0]
    steady = pairs[2:] or pairs
    return median([e / s for e, s in steady]) if steady else 0.0


def per_layer(rec):
    """Per-layer metrics of one traced run record. A layer the workload
    never calls reports 0: it did no work."""
    costs = op_costs(rec)
    by_kind = {}
    for c in costs:
        by_kind.setdefault(c["op"]["kind"], []).append(c)

    def med(kind, f, scale=1.0):
        cs = by_kind.get(kind, [])
        return median([f(c) for c in cs]) * scale if cs else 0.0

    m = {}
    for kind in BATCH_OPS:
        for f in OP_FIELDS:
            m[f"{kind}.{f}"] = med(kind, lambda c, f=f: c[f])
    for kind in SERVE_OPS:
        m[f"{kind}.p50_ms"] = med(kind, lambda c: c["wall_s"], 1e3)
        m[f"{kind}.driver_ms"] = med(kind, lambda c: c["driver_s"], 1e3)
        m[f"{kind}.jobs"] = med(kind, lambda c: c["jobs"])
        m[f"{kind}.shuffle_write_mb"] = med(kind, lambda c: c["shuffle_write_mb"])

    def steps(kind):
        return [s for c in by_kind.get(kind, []) for s in c["op"]["extra"]["superstep_s"]]

    def per_step(c):
        return c["shuffle_write_mb"] / max(1, c["op"]["extra"]["supersteps"])

    m["algos.pagerank.superstep_s"] = median(steps("algos.pagerank")) if steps("algos.pagerank") else 0.0
    m["algos.pagerank.shuffle_mb_per_superstep"] = med("algos.pagerank", per_step)
    m["algos.pagerank.eps"] = med("algos.pagerank", lambda c: steady_eps(c["op"]))
    m["algos.wcc.supersteps"] = med("algos.wcc", lambda c: c["op"]["extra"]["supersteps"])
    m["algos.wcc.shuffle_mb_per_superstep"] = med("algos.wcc", per_step)
    m["algos.cdlp.superstep_s"] = median(steps("algos.cdlp")) if steps("algos.cdlp") else 0.0
    m["ingest.pagerank_ckpt.write_mb"] = med(
        "ingest.pagerank_ckpt", lambda c: c["op"]["extra"]["write_bytes"] / MB)
    gie = [c["op"]["lower_s"] for c in costs if c["op"]["kind"].startswith("gie.")]
    m["gie.lower_ms"] = median(gie) * 1e3 if gie else 0.0
    for kind in ("ml.ann_sq8", "ml.ann_pq"):
        rs = [c["op"]["extra"]["recall"] for c in by_kind.get(kind, []) if "recall" in c["op"]["extra"]]
        m[f"{kind}.recall"] = statistics.fmean(rs) if rs else 0.0
    ops = rec["ops"]
    m["fail_ratio"] = fail_ratio(sum(1 for o in ops if not o["ok"]), len(ops))
    m["host.load_avg"] = median([o["load"] for o in ops])
    m["host.cpu_util"] = median([o["cpu_util"] for o in ops])
    m["host.peak_rss_mb"] = rec["peak_rss_mb"]
    for name, v in end_to_end(rec).items():
        m[f"trace.{name}"] = v
    return m


def spans(rec, run_id):
    """Span records of a traced run: run → op → Spark job → stage."""
    out = [{"run_id": run_id, "span": "run", "parent": None, "kind": "run",
            "name": rec["workload"], "start_ms": rec["run_start_ms"], "end_ms": rec["run_end_ms"]}]
    op_of_group = {}
    for i, o in enumerate(rec["ops"]):
        sid = f"op{i + 1}"
        op_of_group[o["group"]] = sid
        out.append({"run_id": run_id, "span": sid, "parent": "run", "kind": "op", "name": o["kind"],
                    "start_ms": o["start_ms"], "end_ms": o["end_ms"], "ok": o["ok"],
                    "label": o["label"]})
    for j in rec["jobs"]:
        out.append({"run_id": run_id, "span": f"job{j['id']}",
                    "parent": op_of_group.get(j["group"], "run"), "kind": "job",
                    "name": j["group"], "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    for s in rec["stages"]:
        out.append({"run_id": run_id, "span": f"stage{s['id']}.{s['attempt']}",
                    "parent": f"job{s['job']}", "kind": "stage", "name": f"stage {s['id']}",
                    "start_ms": s["submit_ms"], "end_ms": s["end_ms"], "tasks": s["tasks"]})
    return out
