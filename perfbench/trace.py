"""Offline analysis of a traced run: the span tree, self times, job and
stage attribution, and the per-layer metrics.

Spans come from the harness (workload > setup | pass > op > build | exec);
jobs, stages and SQL executions come from the benchmark's SparkListener.
A job belongs to the span whose id its submitting thread carried; a job
without a tag, and every SQL execution, belongs to the innermost span
whose interval contains its start.
"""
import statistics

from workloads import MODULES, MODULE_METRICS, PASS_METRICS


def self_times(spans):
    """{span id: self seconds}: a span's duration minus the part of its
    interval that its children's spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                           for c in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of (a, b) intervals."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Trace:
    def __init__(self, result):
        t = result["trace"]
        self.spans = {s["id"]: s for s in t["spans"]}
        self.origin_ms = t["origin_ms"]
        self.self_s = self_times(t["spans"])
        lst = t["listener"]
        self.jobs = lst["jobs"]
        self.sql = lst["sql"]
        stages = {}
        for st in lst["stages"]:
            agg = stages.setdefault(st["id"], {})
            for k, v in st.items():
                if k not in ("id", "attempt"):
                    agg[k] = agg.get(k, 0) + v
        self.job_span = {}
        self.span_stats = {}
        seen = set()
        for j in sorted(self.jobs, key=lambda j: j["id"]):
            sid = j["span"] if j["span"] in self.spans else self.at(j["start_ms"])
            self.job_span[j["id"]] = sid
            acc = self.span_stats.setdefault(sid, {"jobs": 0})
            acc["jobs"] += 1
            # a stage shared by later jobs ran (and is counted) in the first
            for stage_id in j["stages"]:
                if stage_id in stages and stage_id not in seen:
                    seen.add(stage_id)
                    acc["stages"] = acc.get("stages", 0) + 1
                    for k, v in stages[stage_id].items():
                        acc[k] = acc.get(k, 0) + v

    def ns(self, ms):
        return (ms - self.origin_ms) * 1e6

    def at(self, ms):
        """Innermost span containing the instant `ms` (epoch millis)."""
        t = self.ns(ms)
        best, depth = -1, -1
        for s in self.spans.values():
            if s["start_ns"] <= t <= s["end_ns"]:
                d = self.depth(s["id"])
                if d > depth:
                    best, depth = s["id"], d
        return best

    def depth(self, sid):
        d = 0
        while self.spans[sid]["parent"] >= 0:
            sid = self.spans[sid]["parent"]
            d += 1
        return d

    def under(self, sid):
        """Ids of `sid` and all its descendants."""
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(s["id"] for s in self.spans.values() if s["parent"] == x)
        return out

    def stats(self, sid):
        acc = {}
        for x in self.under(sid):
            for k, v in self.span_stats.get(x, {}).items():
                acc[k] = acc.get(k, 0) + v
        return acc

    def children(self, sid, kind):
        return [s for s in self.spans.values() if s["parent"] == sid and s["kind"] == kind]


def pass_metrics(tr, p, cores):
    """Layer metrics of one pass record `p`."""
    span = tr.spans[p["span"]]
    lo, hi = span["start_ns"], span["end_ns"]
    wall = (hi - lo) / 1e9
    st = tr.stats(p["span"])
    jobs_in = [(tr.ns(j["start_ms"]), tr.ns(j["end_ms"])) for j in tr.jobs
               if tr.job_span.get(j["id"]) in set(tr.under(p["span"]))]
    busy = union_s(jobs_in, lo, hi) / 1e9
    run_s = st.get("run_ms", 0) / 1e3
    ops = [o for o in p["ops"] if o.get("status") == "ok"]
    batch_ms = [b for s in p["streams"] for b in s["batch_ms"]]
    m = {
        "spark.sql_executions": sum(1 for e in tr.sql if lo <= tr.ns(e["start_ms"]) <= hi),
        "spark.jobs": st.get("jobs", 0),
        "spark.stages": st.get("stages", 0),
        "spark.tasks": st.get("tasks", 0),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": st.get("cpu_ns", 0) / 1e9,
        "spark.gc_s": st.get("gc_ms", 0) / 1e3,
        "spark.shuffle_read_bytes": st.get("shuffle_read_bytes", 0),
        "spark.shuffle_write_bytes": st.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": st.get("spill_bytes", 0),
        "spark.driver_gap_s": wall - busy,
        "spark.slot_util": run_s / (wall * cores) if wall > 0 else 0.0,
        "plans.planning_s": sum(o.get("planning_s", 0.0) for o in ops),
        "ModelCache.builds": p["modelcache_builds"],
        "ModelCache.build_s": p["modelcache_build_s"],
        "ModelCache.cached_bytes": p["cached_bytes"],
        "sources.scan_bytes": st.get("input_bytes", 0),
        "sources.scan_rows": st.get("input_rows", 0),
        "sources.write_bytes": st.get("output_bytes", 0),
        "sources.write_rows": st.get("output_rows", 0),
        "sources.CowTable.merge_s": p["cow_merge_s"],
        "streaming.batches": sum(s["batches"] for s in p["streams"]),
        "streaming.batch_p50_s": statistics.median(batch_ms) / 1e3 if batch_ms else 0.0,
        "streaming.rows_per_s": (sum(s["input_rows"] for s in p["streams"])
                                 / (sum(batch_ms) / 1e3)) if batch_ms else 0.0,
        "streaming.state_rows": sum(s["state_rows"] for s in p["streams"]),
        "pass.self_s": tr.self_s[p["span"]],
    }
    for k in ("exchanges", "smj", "bhj", "bnlj"):
        m[f"plans.{k}"] = sum(o.get("plan", {}).get(k, 0) for o in ops)
    assert set(m) == {n for n, _ in PASS_METRICS}
    return m


def module_metrics(tr, p):
    """{module: {metric: value}} of one pass record `p`."""
    out = {}
    for o in p["ops"]:
        acc = out.setdefault(o["module"], {n: 0 for n, _ in MODULE_METRICS})
        acc["build_s"] += o.get("build_s", 0.0)
        acc["exec_s"] += o.get("exec_s", 0.0)
        st = tr.stats(o["span"])
        acc["jobs"] += st.get("jobs", 0)
        acc["executor_cpu_s"] += st.get("cpu_ns", 0) / 1e9
        for b in tr.children(o["span"], "build"):
            acc["build_jobs"] += tr.stats(b["id"]).get("jobs", 0)
    return out


def median_warm(passes):
    """The warm pass whose wall time is the (lower) median."""
    warm = sorted((p for p in passes if p["kind"] == "warm"), key=lambda p: p["wall_s"])
    return warm[(len(warm) - 1) // 2]


def per_layer(result, untraced_cold_s):
    """The per-layer metric values of a traced run, by name."""
    tr = Trace(result)
    cores = result["cores"]
    cold = result["passes"][0]
    warm = median_warm(result["passes"])
    out = {
        "process.setup_s": result["setups"][0]["setup_s"],
        "GraftSession.local_s": statistics.median(s["local_s"] for s in result["setups"]),
        "ModelCache.warm_builds": sum(p["modelcache_builds"] for p in result["passes"]
                                      if p["kind"] == "warm"),
        "trace.overhead_s": cold["wall_s"] - untraced_cold_s,
    }
    for name, p in (("cold", cold), ("warm", warm)):
        for k, v in pass_metrics(tr, p, cores).items():
            out[f"{name}.{k}"] = v
    mods = {}
    for p in (cold, warm):
        for mod, vals in module_metrics(tr, p).items():
            acc = mods.setdefault(mod, {})
            for k, v in vals.items():
                acc[k] = acc.get(k, 0) + v
    for mod in MODULES:
        for k, _ in MODULE_METRICS:
            out[f"operators.{mod}.{k}"] = mods.get(mod, {}).get(k, 0)
    return out, tr


def span_table(tr, top=15):
    """Rows (self_s, duration_s, path) of the spans with most self time."""
    rows = []
    for sid, s in tr.spans.items():
        path, x = [], sid
        while x >= 0:
            path.append(tr.spans[x]["name"])
            x = tr.spans[x]["parent"]
        rows.append((tr.self_s[sid], (s["end_ns"] - s["start_ns"]) / 1e9,
                     "/".join(reversed(path))))
    return sorted(rows, reverse=True)[:top]
