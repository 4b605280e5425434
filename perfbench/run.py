#!/usr/bin/env python3
"""The repository's benchmark: one command for its two workloads.

    python3 perfbench/run.py --workload cnj_etl|dedup_store \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the library and the harness
from source (sbt, into target/ dirs and .bench_build/), generates the
workload's inputs from --seed, runs the workload in a fresh JVM at
local[nproc] with the shipped session defaults, checks its outputs
against independent oracles (perfbench/oracles.py), prints a report
and, as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics from a traced run (spans, Spark listener, plan metrics, counted
filesystem calls). A wrong output or a failed call makes it exit 1.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# input sizes, chosen so a run fits its time budget on a 4-core box
CNJ_MB = 16          # CNJ corpus, 90 files
CNJ_STARTS = 1       # cold session-only JVMs per cnj_etl run, for setup_s
RUN_LIMIT_S = 165    # a run (after the build) must end within 180 s

END_TO_END = [("setup_s", "s"), ("iter_s", "s"), ("input_mb_per_s", "MB/s"),
              ("heap_live_mb", "MB")]

DEDUP_Q = ["ngram_jaccard", "winnowing", "minhash_lsh", "simhash", "knn_graph"]
DEDUP_NAMES = ["dedup_ngram_jaccard", "dedup_winnowing", "dedup_minhash_lsh", "dedup_simhash",
               "sim_knn_graph"]
STORE_V = ["append", "maintain", "read", "lookup", "changes"]


def per_layer():
    """(name, unit) of every per-layer metric, in report order."""
    u = {"s": "s", "driver_s": "s", "task_s": "s", "max_task_s": "s", "jobs": "count",
         "tasks": "count", "core_util": "ratio", "input_bytes": "bytes", "rows": "rows",
         "shuffle_bytes": "bytes", "spill_bytes": "bytes", "output_bytes": "bytes",
         "join_rows": "rows", "out_rows": "rows", "out_per_join_row": "ratio",
         "fs_calls": "count", "files_read": "count"}
    m = [("cnj.read_dir.s", "s")]
    m += [(f"cnj.parse.{k}", u[k]) for k in
          ("s", "task_s", "tasks", "max_task_s", "core_util", "input_bytes", "rows")]
    m += [(f"cnj.resumo.{k}", u[k]) for k in
          ("s", "driver_s", "jobs", "tasks", "task_s", "shuffle_bytes")]
    m += [(f"cnj.chart.{k}", u[k]) for k in ("s", "jobs", "tasks", "task_s")]
    m += [(f"cnj.consolidado.{k}", u[k]) for k in
          ("s", "tasks", "task_s", "core_util", "output_bytes")]
    for q in DEDUP_Q:
        m += [(f"dedup.{q}.{k}", u[k]) for k in
              ("s", "driver_s", "jobs", "tasks", "task_s", "max_task_s", "core_util",
               "shuffle_bytes", "spill_bytes", "join_rows", "out_rows", "out_per_join_row")]
    m += [("dedup.pinned_mb_after", "MB"), ("dedup.scratch_dirs_after", "count")]
    for v in STORE_V:
        m += [(f"store.{v}.{k}", u[k]) for k in ("s", "driver_s", "jobs", "fs_calls", "files_read")]
    m += [("store.read.live_deltas", "count"), ("store.maintain.minor", "count"),
          ("store.maintain.major", "count"), ("store.maintain.bytes_rewritten", "bytes"),
          ("store.write_amp", "ratio"), ("store.pinned_mb_after", "MB"),
          ("store.scratch_dirs_after", "count")]
    m += [("session.start_s", "s"), ("session.warmup_s", "s"), ("jvm.gc_s", "s"),
          ("jvm.heap_peak_mb", "MB")]
    return m


# which end-to-end metric each layer metric should move, on which
# workload (first matching prefix), for the traced report
MOVES = [("cnj.", "iter_s, input_mb_per_s on cnj_etl; no change on dedup_store"),
         ("dedup.pinned", "heap_live_mb, late-iteration iter_s on dedup_store"),
         ("dedup.scratch", "heap_live_mb, late-iteration iter_s on dedup_store"),
         ("store.pinned", "heap_live_mb on dedup_store"),
         ("store.scratch", "heap_live_mb on dedup_store"),
         ("dedup.", "iter_s on dedup_store; no change on cnj_etl"),
         ("store.", "iter_s on dedup_store; no change on cnj_etl"),
         ("session.", "setup_s"), ("jvm.", "heap_live_mb, setup_s")]


def say(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail_setup(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """Tier-1's SPARK_DRIVER_MEM rule: half of RAM, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: the share of time the host
    gave this machine's CPUs to others is noise no benchmark can remove,
    so the report states it."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except (OSError, ValueError):
        return 0, 0


def run_proc(cmd, log_path, timeout, env=None, cwd=None):
    """Run `cmd` in its own process group, output to `log_path`; kill the
    whole group on timeout. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


# ---- build ------------------------------------------------------------

def fingerprint():
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness when the sources changed; return the
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read()
    say("building library and harness with sbt")
    log = os.path.join(BUILD, "build.log")
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                     "compile", "export Runtime/fullClasspath"], log, 850, cwd=HERE)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l.strip() for l in lines if "scala-library" in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail_setup("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    return cps[-1]


def java_cmd(cp, main, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    flags = [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the forked-run JVM options of build.sbt, plus a temp dir in the checkout
    return (["java"] + flags + [f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
                                "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
                                "-cp", cp, main] + args)


def jvm_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    return env


# ---- statistics -------------------------------------------------------

def tail_percentile(xs):
    """Highest percentile with at least ten samples beyond it, or None."""
    n = len(xs)
    if n < 11:
        return None
    p = 100.0 * (n - 10) / n
    s = sorted(xs)
    return p, s[n - 11]


def timing_line(name, xs, unit="s"):
    if not xs:
        return f"{name}: no samples"
    med = statistics.median(xs)
    tp = tail_percentile(xs)
    tail = (f"p{tp[0]:.0f} {tp[1]:.4f} {unit}" if tp else
            f"too few samples for a tail percentile, max {max(xs):.4f} {unit}")
    return f"{name}: median {med:.4f} {unit}, {tail} (n={len(xs)})"


# ---- workloads --------------------------------------------------------

def jvm_run(cp, workload, seed, seconds, trace, input_dir, run_dir, deadline):
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(input_dir, exist_ok=True)
    cmd = java_cmd(cp, "perfbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--input", input_dir, "--run", run_dir])
    log = os.path.join(run_dir, "jvm.log")
    code = run_proc(cmd, log, deadline - time.time(), env=jvm_env(), cwd=run_dir)
    with open(log, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                print(line.rstrip(), flush=True)
    res_path = os.path.join(run_dir, "result.json")
    if code is None:
        return None, f"{workload} JVM did not finish within the run's time limit"
    if code != 0 or not os.path.exists(res_path):
        with open(log, errors="replace") as f:
            tail = f.read().splitlines()[-20:]
        return None, f"{workload} JVM exited {code}: " + " | ".join(tail)
    with open(res_path) as f:
        return json.load(f), None


def cnj_inputs(cp, seed, deadline):
    import oracles
    d = os.path.join(BUILD, "work", f"cnj-{seed}-{CNJ_MB}")
    truth = os.path.join(d, "truth.json")
    expected = os.path.join(d, "expected.json")
    if not os.path.exists(expected):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        code = run_proc(java_cmd(cp, "perfbench.GenCnj", [d, str(seed), str(CNJ_MB)]),
                        os.path.join(BUILD, "gen.log"), deadline - time.time())
        if code != 0:
            fail_setup("CNJ corpus generation failed")
        header, rows, n = oracles.cnj_expected(d)
        with open(expected, "w") as f:
            json.dump({"header": header, "rows": rows, "rows_read": n}, f)
    with open(truth) as f:
        t = json.load(f)
    with open(expected) as f:
        e = json.load(f)
    return d, t, e


def run_cnj(cp, a, deadline):
    """One fresh JVM per runAll, as the paper timed cold process runs.
    A runAll outlasts --seconds, so a run has one such JVM and one cold
    start; CNJ_STARTS more JVMs that only start a session follow it, and
    setup_s is the median of all the run's cold starts."""
    import oracles
    input_dir, truth, exp = cnj_inputs(cp, a.seed, deadline)
    problems = []
    if exp["rows_read"] != truth["wellformed_rows"]:
        problems.append(f"oracle read {exp['rows_read']} rows, generator wrote "
                        f"{truth['wellformed_rows']} well-formed")
    results, errors = [], []
    t0 = time.time()
    i = 0
    while i == 0 or time.time() - t0 < a.seconds:
        run_dir = os.path.join(BUILD, "runs", f"cnj_etl-{a.seed}-{i}")
        res, err = jvm_run(cp, "cnj_etl", a.seed, a.seconds, a.trace, input_dir, run_dir, deadline)
        i += 1
        if err:
            errors.append(err)
            break
        results.append(res)
        if res["iters"]:
            problems += oracles.check_cnj(os.path.join(run_dir, "out"),
                                          (exp["header"], exp["rows"]), truth["wellformed_rows"])
        if deadline - time.time() < 70:
            break
    starts = [r["setup_s"] for r in results]
    for i in range(CNJ_STARTS if not errors else 0):
        run_dir = os.path.join(BUILD, "runs", f"cnj_session-{a.seed}-{i}")
        res, err = jvm_run(cp, "cnj_session", a.seed, a.seconds, False, input_dir, run_dir, deadline)
        if err:
            errors.append(err)
            break
        starts.append(res["setup_s"])
    return results, errors, problems, truth["bytes"], starts


def run_long(cp, a, deadline):
    import oracles
    input_dir = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}")
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}")
    res, err = jvm_run(cp, a.workload, a.seed, a.seconds, a.trace, input_dir, run_dir, deadline)
    if err:
        return [], [err], [], 0
    problems = oracles.check_dedup(input_dir, run_dir, res["oracle_sql"], res["out_rows"])
    problems += [f"{q}: the registry has no oracle SQL" for q in DEDUP_NAMES
                 if q not in res["oracle_sql"]]
    problems += oracles.check_store(input_dir, run_dir)
    return [res], [], problems, res.get("input_bytes", 0)


# ---- main -------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["cnj_etl", "dedup_store"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    a.trace = a.trace == 1
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail_setup(f"{ROOT} is not a checkout of the library (no build.sbt / src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail_setup("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    sys.path.insert(0, HERE)
    load = os.getloadavg()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    say(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {int(a.trace)}")
    say(f"regime: nproc {nproc()}, -Xmx{heap()}, loadavg 1m/5m at entry "
        f"{load[0]:.2f}/{load[1]:.2f}")
    steal0, total0 = cpu_ticks()
    if a.workload == "cnj_etl":
        results, errors, problems, input_bytes, setups = run_cnj(cp, a, deadline)
    else:
        results, errors, problems, input_bytes = run_long(cp, a, deadline)
        setups = [r["setup_s"] for r in results]
    steal1, total1 = cpu_ticks()
    # outputs are checked: keep result.json and spans, drop the bulk
    for d in os.listdir(os.path.join(BUILD, "runs")):
        if d == f"{a.workload}-{a.seed}" or d.startswith(f"{a.workload}-{a.seed}-"):
            for sub in ("out", "store"):
                shutil.rmtree(os.path.join(BUILD, "runs", d, sub), ignore_errors=True)
    say(f"cpu steal during the run: {100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")

    if results:
        reg = results[0]["regime"]
        say(f"session: master {reg['master']}, max heap {reg['heap_max_mb']:.0f} MB")
        say(f"session conf: {json.dumps(reg['conf'], sort_keys=True)}")
        if a.trace:
            say(f"file system in traced run: {results[0].get('fs_impl')}")
    iters = [x for r in results for x in r["iters"]]
    failures = [e for r in results for e in r["errors"]]
    attempted = sum(r["attempted"] for r in results) + len(errors)
    failed = len(failures) + len(errors) + len(problems)
    for f in failures:
        say(f"failed call {f['op']}: {f['class']}: {f['message'][:300]}")
    for e in errors:
        say(f"failed run: {e[:500]}")
    for p in problems:
        say(f"wrong output: {p}")
    correct = failed == 0 and bool(iters)

    metrics = {}
    if iters:
        iter_s = statistics.median(iters)
        e2e = {"setup_s": statistics.median(setups), "iter_s": iter_s,
               "input_mb_per_s": input_bytes / 1048576.0 / iter_s,
               "heap_live_mb": statistics.median(r["heap_live_mb"] for r in results)}
        say(timing_line("iter_s", iters))
        say(timing_line("setup_s", setups))
        say(f"peak_rss_mb: {statistics.median(r['peak_rss_mb'] for r in results):.1f} MB")
        say(f"input: {input_bytes / 1048576.0:.1f} MB")
        if a.workload == "dedup_store":
            for v in STORE_V:
                say(timing_line(f"{v}_s", results[0]["verbs"][v]))
            kinds = results[0]["maintain_kinds"]
            say(f"maintain: {kinds.count('minor')} minor, {kinds.count('major')} major "
                f"in {len(kinds)} timed rounds")
            if "space_amp" in results[0]:
                say(f"space_amp: {results[0]['space_amp']:.4f} ratio")
            for q, s in results[0]["per_query_s"].items():
                say(f"{q}: median {s:.4f} s")
        say(f"failed_frac: {failed}/{max(attempted, 1)} = {failed / max(attempted, 1):.4f} ratio")
        # untraced iter_s history, the base of the traced run's overhead line
        hist = os.path.join(BUILD, f"untraced_{a.workload}.json")
        base = json.load(open(hist)) if os.path.exists(hist) else []
        if not a.trace:
            for name, unit in END_TO_END:
                metrics[name] = {"value": e2e[name], "unit": unit}
                say(f"{name}: {e2e[name]:.4f} {unit}")
            with open(hist, "w") as f:
                json.dump((base + [iter_s])[-50:], f)
        else:
            layers = {}
            for r in results:
                for k, v in r["layers"].items():
                    layers.setdefault(k, []).append(v)
            for name, unit in per_layer():
                v = statistics.median(layers[name]) if name in layers else 0.0
                metrics[name] = {"value": v, "unit": unit}
                moves = next(m for p, m in MOVES if name.startswith(p))
                say(f"{name}: {v:.6g} {unit}  -> moves {moves}")
            if base:
                u = statistics.median(base)
                say(f"tracing overhead ({a.workload}): traced iter_s {iter_s:.4f} - untraced "
                    f"iter_s {u:.4f} (median of {len(base)} untraced runs in this checkout) "
                    f"= {iter_s - u:+.4f} s")
            else:
                say(f"tracing overhead ({a.workload}): no untraced run in this checkout yet")
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
