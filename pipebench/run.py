#!/usr/bin/env python3
"""Pipeline benchmark: builds the program from source, runs one workload
in its own JVM and prints the result as one JSON line.

    python3 pipebench/run.py --workload kofic_daily --seed 1 --seconds 10 --trace 0
    python3 pipebench/run.py --workload all --seed 1 --seconds 10

Run it from the repository root. See pipebench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["kofic_backfill", "kofic_daily", "analytics_board"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
E2E_UNITS = {"setup_s": "s", "batch_p50_s": "s"}


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(1)


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("ratio") or name.endswith("coverage"):
        return "ratio"
    return "count"


def build_dir():
    return os.path.join(ROOT, ".bench_build", "pipebench")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the one whose
    spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    fail("no Spark jars found; set SPARK_HOME")


def build(jars):
    """Compiles src/main/scala and the benchmark's sources with scalac into
    a directory keyed by their content; reuses it when nothing changed."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    open(os.path.join(tmp, ".done"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build published first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != out and ".tmp-" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(classes, jars, workload, seed, seconds, trace, timeout=JVM_TIMEOUT_S):
    """Runs one workload in a fresh JVM with private tmp, warehouse and
    model-state directories, which are deleted afterwards."""
    base = build_dir()
    run_id = f"{workload}-s{seed}-t{trace}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(base, "runs", run_id)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(base, "logs"), exist_ok=True)
    log_path = os.path.join(base, "logs", run_id + ".log")
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", "-XX:-UsePerfData"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", f"{classes}:{os.path.join(jars, '*')}", "graft.pipebench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--run-dir", run_dir,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--board-rows", os.path.join(HERE, "board_rows.txt"), "--out", out])
    load_before, steal_before = os.getloadavg(), cpu_steal_s()
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
            try:
                p.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"{workload} did not finish in {timeout} s (log: {log_path})")
        if p.returncode != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"{workload} JVM exited with {p.returncode}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["env"].update({
        "loadavg_before": list(load_before), "loadavg_after": list(os.getloadavg()),
        "cpu_steal_s": cpu_steal_s() - steal_before,
        "git_commit": git_commit(), "trace": trace})
    res_dir = os.path.join(base, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, run_id + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    res["result_file"] = os.path.relpath(os.path.join(res_dir, run_id + ".json"), ROOT)
    return res


def show(res):
    env = res["env"]
    print(f"# {res['workload']} seed={env['seed']} trace={env['trace']} nproc={env['nproc']} "
          f"java={env['java']} spark={env['spark']} commit={env['git_commit'][:12]} "
          f"D={env['backfill_days']} H={env['history_days']} K={env['board_queries']} "
          f"sf={env['board_data']} loadavg={env['loadavg_before'][0]:.2f}->"
          f"{env['loadavg_after'][0]:.2f} steal={env['cpu_steal_s']:.2f}s")
    for name, m in res["named"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    for e in res["errors"]:
        print(f"# check failed: {e}")
    if res["per_layer"]:
        cov = res["per_layer"]["trace.coverage"]
        print(f"# trace.coverage = {cov:.4f}" + ("" if cov >= 0.95 else "  (below 0.95)"))
    print(f"# full record: {res['result_file']}")


def single(args, classes, jars):
    res = run_jvm(classes, jars, args.workload, args.seed, args.seconds, args.trace)
    show(res)
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["end_to_end"].items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def run_all(args, classes, jars):
    """Every workload untraced, then traced: the eight named metrics over
    all three, and the tracing overhead on each of them."""
    timeout = args.seconds + 150
    plain, traced = {}, {}
    for w in WORKLOADS:
        plain[w] = run_jvm(classes, jars, w, args.seed, args.seconds, 0, timeout)
        traced[w] = run_jvm(classes, jars, w, args.seed, args.seconds, 1, timeout)
        show(plain[w])
        show(traced[w])
    named = {}
    for res in plain.values():
        named.update({k: m for k, m in res["named"].items()
                      if k not in ("setup_s", "fail_ratio", "peak_rss_mb")})
    runs = list(plain.values())
    named["setup_s"] = {"value": sum(r["named"]["setup_s"]["value"] for r in runs),
                        "unit": "s", "n": sum(r["named"]["setup_s"]["n"] for r in runs)}
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    named["fail_ratio"] = {"value": failed / attempted, "unit": "ratio", "n": attempted}
    named["peak_rss_mb"] = max((r["named"]["peak_rss_mb"] for r in runs),
                               key=lambda m: m["value"])
    order = ["setup_s", "backfill_s", "refresh_p50_s", "dashboard_p50_ms",
             "dashboard_p75_ms", "board_s", "fail_ratio", "peak_rss_mb"]
    print("# named metrics, untraced runs")
    for k in order:
        m = named[k]
        print(f"{k} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    print("# tracing overhead: traced minus untraced")
    for w in WORKLOADS:
        for k, m in plain[w]["named"].items():
            if k != "fail_ratio":
                d = traced[w]["named"][k]["value"] - m["value"]
                print(f"{w}.{k} {d:+.4f} {m['unit']} ({d / m['value']:+.1%})")
    correct = all(r["correct"] for r in runs + list(traced.values()))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": named[k]["value"], "unit": named[k]["unit"]}
                                  for k in order}}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    if args.workload == "all":
        run_all(args, classes, jars)
    else:
        single(args, classes, jars)


if __name__ == "__main__":
    main()
