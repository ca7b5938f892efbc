#!/usr/bin/env python3
"""graft's benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds graft and the harness (perfbench/build.py), generates the
workload's input dir from the seed (perfbench/gen.py; not timed), and runs
the harness in one JVM: three session set-ups, a cold pass over the
workload's operations (the JVM's first), then warm passes until S seconds
are spent in them (at least one; BENCHMARK.json's one second gives exactly
one whatever the speed, so both sides of a comparison time the same
passes). Outputs are checked in the same command: every operation must
return rows and the same value hash in every pass, the direct CowTable
calls must match a plain-join recomputation, and operations with DuckDB
oracle SQL are dumped by graft.Verify and compared by
scripts/check_oracle.py.

--trace 0 prints the end-to-end metrics; --trace 1 runs the cold pass once
untraced, then the whole workload traced, and prints the per-layer metrics,
the span self times and the tracing overhead (traced cold_s minus untraced
cold_s). The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402
from workloads import (END_TO_END, HEAP, SETUPS, STREAM_FILES, WORKLOADS,  # noqa: E402
                       all_layers, per_layer)

# Everything after the build, both JVMs of --trace 1 included, must end
# within this many seconds of the start.
DEADLINE_S = 170
MB = 1024 * 1024


def log(msg):
    print(msg, flush=True)


def run_jvm(repo, name, ops, inputs, seed, seconds, traced, dump, deadline):
    work = os.path.join(repo, build.OUT, "work", f"{name}-{seed}-{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *build.java_opts(),
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(repo), "graft.perfbench.Harness",
           "--workload", name, "--dir", os.path.abspath(inputs), "--work", work,
           "--out", out, "--ops", ",".join(ops), "--setups", str(SETUPS),
           "--warm-seconds", str(seconds), "--trace", "1" if traced else "0"]
    if dump:
        cmd += ["--dump-dir", os.path.join(work, "dump")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness timed out after {time.time() - t0:.0f} s")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    log(f"harness ({'traced' if traced else 'untraced'}) ran {time.time() - t0:.1f} s")
    with open(out) as f:
        return json.load(f), work


def oracle_check(repo, inputs, dump_dir, ops, deadline):
    """{op: failure detail or None} from scripts/check_oracle.py, for the
    operations graft.Verify dumped (those with oracle SQL)."""
    if not os.path.exists(os.path.join(dump_dir, "oracle_sql.json")):
        return {}
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        have = {k[:-len(".parquet")] for k in json.load(f)}
    named = [o for o in ops if o in have]
    if not named:
        return {}
    r = subprocess.run([sys.executable, os.path.join(repo, "scripts", "check_oracle.py"),
                        os.path.abspath(inputs), dump_dir, *named],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(1.0, deadline - time.time()))
    verdict = {o: "no verdict from check_oracle.py" for o in named}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        op = rest.split(":")[0].split(" ")[0]
        if op in verdict:
            verdict[op] = None if word in ("PASS", "WARN") else line
    return verdict


def evaluate(results, oracle):
    """Count operation executions and failures over the runs' passes.

    An execution fails when it raises, or when its operation's output is
    wrong: no rows, a value hash that differs between passes, a mismatch
    with the oracle, or a direct call that disagrees with its plain-join
    recomputation. Returns (attempted, failed, {op: reason})."""
    attempted, failed = 0, 0
    reasons = {}
    runs = {}
    for res in results:
        for p in res["passes"]:
            for o in p["ops"]:
                attempted += 1
                if o.get("status") != "ok":
                    failed += 1
                    reasons.setdefault(o["name"], o.get("error", "failed"))
                else:
                    runs.setdefault(o["name"], []).append(o)
    expected = {c["op"]: c for res in results for c in res.get("checks", [])}
    for op, ok in runs.items():
        wrong = None
        if ok[0]["rows"] == 0:
            wrong = "returned no rows"
        elif len({o["hash"] for o in ok}) > 1 or len({o["rows"] for o in ok}) > 1:
            wrong = "value hash differs between passes"
        elif oracle.get(op):
            wrong = oracle[op]
        elif op in expected and (ok[0]["rows"] != expected[op]["rows"] or
                                 expected[op].get("hash", ok[0]["hash"]) != ok[0]["hash"]):
            wrong = f"differs from its plain-join recomputation: {ok[0]['rows']} rows " \
                    f"vs {expected[op]['rows']}"
        if wrong:
            failed += len(ok)
            reasons.setdefault(op, wrong)
    return attempted, failed, reasons


def end_to_end(res):
    warm = [p["wall_s"] for p in res["passes"] if p["kind"] == "warm"]
    return {
        "setup_s": statistics.median(s["setup_s"] for s in res["setups"]),
        "cold_s": res["passes"][0]["wall_s"],
        "warm_s": statistics.median(warm),
        "cached_mb": res["cached_bytes_after_cold"] / MB,
        "heap_peak_mb": res["heap_peak_old_after_gc_bytes"] / MB,
    }


def print_ops(res):
    log(f"{'operation':32s} {'module':18s} " +
        " ".join(f"{p['kind']}{p['index']:<2d}" for p in res["passes"]))
    for i, o in enumerate(res["passes"][0]["ops"]):
        cells = []
        for p in res["passes"]:
            q = p["ops"][i]
            cells.append(f"{q.get('build_s', 0) + q.get('exec_s', 0):6.3f}"
                         if q.get("status") == "ok" else "  FAIL")
        log(f"{o['name']:32s} {o['module']:18s} " + " ".join(cells))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    repo = os.getcwd()
    w = WORKLOADS[a.workload]
    ops = w["ops"]
    try:
        build.build(repo)
    except build.BuildError as e:
        sys.exit(f"perfbench: cannot build graft here: {e}")
    deadline = time.time() + DEADLINE_S

    inputs = os.path.join(repo, build.OUT, "inputs", f"{a.workload}-{a.seed}")
    manifest = gen.write(inputs, a.seed, w["sf"], w["docs"], STREAM_FILES)
    log(f"perfbench: workload={a.workload} seed={a.seed} cores={os.cpu_count()} "
        f"heap={HEAP} load=closed-loop, 1 client")
    log("inputs: " + ", ".join(f"{t} {v['rows']} rows/{v['bytes']} B"
                               for t, v in manifest["tables"].items()))

    try:
        if a.trace:
            # the untraced reference for the tracing overhead: cold pass only
            untraced, _ = run_jvm(repo, a.workload, ops, inputs, a.seed, 0,
                                  traced=False, dump=False, deadline=deadline)
        res, work = run_jvm(repo, a.workload, ops, inputs, a.seed, a.seconds,
                            traced=bool(a.trace), dump=True, deadline=deadline)
        results = [untraced, res] if a.trace else [res]
        oracle = oracle_check(repo, inputs, os.path.join(work, "dump"), ops, deadline)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench: {e}")

    print_ops(res)
    attempted, failed, reasons = evaluate(results, oracle)
    log(f"output check: {len([v for v in oracle.values() if v is None])}/{len(oracle)} "
        f"oracle-gated operations match DuckDB; "
        f"{'all operations correct' if not reasons else 'FAILING: ' + ', '.join(sorted(reasons))}")
    for op, why in sorted(reasons.items()):
        log(f"  {op}: {why}")
    e2e = end_to_end(res)
    log(f"fail_ratio = {failed / attempted} ratio ({failed}/{attempted} operation executions)")

    units = {n: u for n, u, _, _ in END_TO_END}
    for n, u in units.items():
        log(f"{n} = {e2e[n]} {u}")
    if not a.trace:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n in units}
    else:
        values, tr = trace.per_layer(res, untraced["passes"][0]["wall_s"])
        log(f"tracing overhead: traced cold_s {e2e['cold_s']:.3f} s - untraced cold_s "
            f"{untraced['passes'][0]['wall_s']:.3f} s = {values['trace.overhead_s']:.3f} s")
        log("spans with the most self time (self_s, duration_s, path):")
        for self_s, dur, path in trace.span_table(tr):
            log(f"  {self_s:8.3f} {dur:8.3f}  {path}")
        for n, u in all_layers():
            log(f"{n} = {values[n]} {u}")
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in per_layer()}
        with open(os.path.join(repo, build.OUT, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(res, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
