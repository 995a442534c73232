"""The repository benchmark: one workload, one run, one result line.

    python3 perfbench/run.py --workload daily_upsert --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness into ``.bench_build`` (see ``harness/build.py``). The run then
generates the workload's inputs from ``--seed``, starts one JVM with a
``local[4]`` session and one closed-loop client, sets the workload up
several times, warms up, measures for ``--seconds``, checks the outputs against
DuckDB, and prints a report followed by one JSON line:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. The exit code is 0 only when every check passed; a
harness that crashes or overruns is a failed run, reported with
``"correct": false``. A run that cannot start (not at the root of a
checkout, no Spark jars, a failed build) exits 2 and prints no result.
"""

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("daily_upsert", "query_sample")
HISTORY_DAYS = 3650     # daily_upsert: ten years already in the table
SAMPLE_SEED = 20261017  # fixes which queries query_sample draws
SF_DIR = os.path.join(HERE, "data", "sf0.01")
# a fixed heap and young generation: the JVM touches the same pages run
# after run, so peak RSS measures the program rather than GC sizing luck
HEAP = "2g"
YOUNG = "512m"
DEADLINE_S = 160  # from the end of the build to the harness's exit


class HarnessFailed(Exception):
    pass


def _fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail_percentile(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (percentile, value), or None when there are too few samples."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return 100.0 * (i + 1) / n, s[i]


def cpu_times():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return v[7], sum(v)


def make_inputs(workload, seed, inputs, queries_tsv):
    if workload == "daily_upsert":
        gen.write_history(os.path.join(inputs, "history"), seed, HISTORY_DAYS)
        sched = gen.write_payloads(os.path.join(inputs, "payloads"), seed,
                                   gen.history_end(HISTORY_DAYS), 400)
        with open(os.path.join(inputs, "schedule.tsv"), "w", encoding="utf-8") as f:
            for s in sched:
                f.write(f"{s['file']}\t{s['ingest_date']}\t{s['ingest_ts']}\t{int(s['rerun'])}\n")
        return {}
    sample = draw_sample(queries_tsv)
    with open(os.path.join(inputs, "sample.tsv"), "w", encoding="utf-8") as f:
        for m, q in sample:
            f.write(f"{m}\t{q}\n")
    return {"sample": sample}


def draw_sample(queries_tsv):
    """One query drawn from every module, fixed so that every seed times
    the same queries; the run seed only orders them."""
    by_module = {}
    with open(queries_tsv, encoding="utf-8") as f:
        for line in f:
            m, q = line.rstrip("\n").split("\t")
            by_module.setdefault(m, []).append(q)
    rng = random.Random(SAMPLE_SEED)
    out = []
    for m in sorted(by_module):
        out.append((m, rng.choice(sorted(by_module[m]))))
    return out


def run_harness(classpath, args, work, deadline):
    log = os.path.join(work, "harness.log")
    cmd = (["java"] + build.java_opts() +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m", "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "wb") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:  # timed out or interrupted: stop the JVM
                p.kill()
                p.wait()
    if rc != 0:
        with open(log, encoding="utf-8", errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise HarnessFailed(f"harness exited with {rc}")
    with open(args["out"], encoding="utf-8") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        _fail("run from the root of a checkout: src/main/scala is missing")
    bdir = os.path.join(root, ".bench_build")
    try:
        classpath = build.build(bdir)
    except SystemExit as e:
        _fail(e.code)
    deadline = time.time() + DEADLINE_S
    queries_tsv = os.path.join(bdir, "queries.tsv")

    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        cpu0 = cpu_times()
        t0 = time.perf_counter()
        info = make_inputs(a.workload, a.seed, inputs, queries_tsv)
        gen_s = time.perf_counter() - t0
        try:
            res = run_harness(classpath, {
                "workload": a.workload, "inputs": inputs, "work": work, "seconds": a.seconds,
                "trace": a.trace, "seed": a.seed, "sf": SF_DIR,
                "out": os.path.join(work, "result.json")}, work, deadline)
        except (HarnessFailed, OSError, ValueError) as e:
            failed_run(a, f"{type(e).__name__}: {e}")
            sys.exit(1)
        fails = run_checks(a.workload, inputs, work, res, info, queries_tsv)
        cpu1 = cpu_times()
        # CPU time the hypervisor gave to other guests: a noisy-host signal
        res["steal"] = ((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
                        if cpu0 and cpu1 else None)
        if a.trace:
            traces = os.path.join(bdir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
        correct = report(a, res, info, gen_s, fails)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


def failed_run(a, why):
    """The result of a run whose harness crashed, overran or wrote no
    result: one failed operation, and no figure measured (each reads 0)."""
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: FAILED {why}")
    names = benchmark()["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                      "metrics": {m["name"]: {"value": 0.0, "unit": m["unit"]}
                                  for m in names}}))


def run_checks(workload, inputs, work, res, info, queries_tsv):
    import check
    fin = res["finish"]
    check_dir = os.path.join(work, "check")
    try:
        if workload == "daily_upsert":
            return check.check_daily(inputs, check_dir, fin["loaded"], fin["as_of"])
        with open(queries_tsv + ".oracle.json", encoding="utf-8") as f:
            oracle = json.load(f)
        return check.check_queries(SF_DIR, os.path.join(check_dir, "q"),
                                   [q for _, q in info["sample"]], oracle)
    except Exception as e:  # a check that cannot run has failed
        return [f"check error: {type(e).__name__}: {e}"]


def report(a, res, info, gen_s, fails):
    ops = res["ops"]
    ok = [o["s"] for o in ops if o["ok"]]
    failed = [o for o in ops if not o["ok"]]
    fin = res["finish"]
    setup_s = (gen_s + res["session_s"] + statistics.median(res["setup_s"])
               + res["warmup_s"])
    p50 = op_p50(a.workload, ops, info)
    cpu50 = op_p50(a.workload, ops, info, "cpu")
    tail = tail_percentile(ok)
    lines = [f"workload {a.workload} seed {a.seed} trace {a.trace}: "
             f"{len(ops)} operations, {len(failed)} failed, {len(ok)} timed"]

    def show(name, value, unit, note=""):
        lines.append(f"  {name:<28} {value:>14.6g} {unit:<6} {note}")

    show("setup_s", setup_s, "s", f"gen {gen_s:.3f} + session {res['session_s']:.3f} "
         f"+ median of {len(res['setup_s'])} set-ups {[round(x, 3) for x in res['setup_s']]} "
         f"+ warm-up {res['warmup_s']:.3f}")
    show("op_p50_s", p50, "s")
    show("op_cpu_s", cpu50, "s", "JVM CPU seconds per operation, median")
    show("peak_rss_mb", res["peak_rss_mb"], "MB", "VmHWM of the benchmark JVM")
    show("ops_failed_ratio", len(failed) / len(ops), "ratio", f"{len(failed)}/{len(ops)}")
    prefix = {"daily_upsert": "daily", "query_sample": "query"}.get(a.workload)
    if prefix and ok:
        show(f"{prefix}_p50_s", statistics.median(ok), "s", f"n={len(ok)}")
        if tail:
            show(f"{prefix}_tail_s", tail[1], "s", f"p{tail[0]:.1f}, n={len(ok)}")
        else:
            lines.append(f"  {prefix}_tail_s: n={len(ok)}, too few samples for 10 beyond")
    if a.workload == "query_sample":
        show("query_total_s", p50, "s", f"median pass of {len(info['sample'])} queries")
    if "storage" in fin:
        st = fin["storage"]
        tb = (st["data_bytes"] + st["dv_bytes"] + st["manifest_bytes"]) / st["rows"]
        show("table_bytes_per_row", tb, "B", f"{st['rows']} rows, "
             f"{st['snapshot_files']} files, {st['versions']} versions")
    if res["steal"] is not None:
        show("host_cpu_steal", 100 * res["steal"], "%", "of the host's CPU time during the run")
    for o in failed:
        lines.append(f"  FAILED {o['name']}: {o['error']}")
    for f in fails:
        lines.append(f"  CHECK FAILED {f}")
    lines.append(f"  checks: {'all passed' if not fails else f'{len(fails)} failed'}")
    print("\n".join(lines))
    if a.trace:
        metrics = layer_metrics(a.workload, res, info)
    else:
        metrics = {"setup_s": (setup_s, "s"), "op_p50_s": (p50, "s"),
                   "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    correct = not fails and not failed
    # a figure that could not be measured (every operation failed) reads 0;
    # `correct` and `failed` already report the failure
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return correct


def op_p50(workload, ops, info, key="s"):
    """Median of one operation's wall seconds (`key` "s") or JVM CPU
    seconds ("cpu"): a day for daily_upsert, a pass over the sample for
    query_sample (a pass with a failed query has no time)."""
    if workload != "query_sample":
        ok = [o[key] for o in ops if o["ok"]]
        return statistics.median(ok) if ok else float("nan")
    n = len(info["sample"])
    passes = [ops[i:i + n] for i in range(0, len(ops) - n + 1, n)]
    done = [sum(o[key] for o in p) for p in passes if all(o["ok"] for o in p)]
    return statistics.median(done) if done else float("nan")


def layer_metrics(workload, res, info):
    """Every per-layer metric BENCHMARK.json names; a layer this workload
    does not exercise reads 0."""
    got = dict(res["layers"])
    got["trace.op_p50_s"] = op_p50(workload, res["ops"], info)
    fin = res["finish"]
    st = fin.get("storage")
    if st:
        got["gdx.versions"] = st["versions"]
        got["gdx.snapshot_files"] = st["snapshot_files"]
        got["gdx.manifest_bytes"] = st["manifest_bytes"]
        got["gdx.table_bytes_per_row"] = (
            st["data_bytes"] + st["dv_bytes"] + st["manifest_bytes"]) / st["rows"]
    return {m["name"]: (float(got.get(m["name"]) or 0.0), m["unit"])
            for m in benchmark()["per_layer"]}


def benchmark():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


if __name__ == "__main__":
    main()
