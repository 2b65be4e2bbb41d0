"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload repl --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (once per source state,
into `.bench_build/`, or `$CARGO_TARGET_DIR`), generates the seed's
inputs (once per seed), runs the harness JVM, checks every output with
`check.py`, and prints one JSON line last:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones (README.md says what each one measures).
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("repl", "curation", "mixed")
# The curation operators, in the order one client runs them.
# An odd count keeps the median op inside one operator's latencies.
CURATION_OPS = ["d07_dedup_corpus", "q63_mi_feature_select", "t14_bpe_apply"]
# Fixed for every run (README, "Settings"). One task slot, and the JVM
# pinned to one CPU: in five interleaved `curation` runs each, pass time
# spread 0.22 between runs with four slots on four CPUs, 0.09 with one
# slot on one CPU.
SLOTS = 1
HEAP = "2g"
SETUPS = 3
WARMUPS = 2
# op_tail_s: the percentile of op latency reported per workload, the
# highest with at least ten samples beyond it in a run (README).
TAIL_PCT = {"repl": 75, "curation": 85, "mixed": 75}
JVM_TIMEOUT_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    fail("no Spark jars: set SPARK_HOME")


def sources():
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        fail(f"program sources not found under {src}")
    files = []
    for base in (src, os.path.join(HERE, "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(build_dir):
    """Compile graft's main sources and the harness with scalac; the
    classes are kept per source state, so a second run does not build."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "done")):
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac-args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp_dir(build_dir)}",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    open(os.path.join(classes, "done"), "w").close()
    return classes, jars


def tmp_dir(build_dir):
    d = os.path.join(build_dir, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def pin_to_one_cpu():
    """Runs in the harness JVM's process before exec: restrict it to the
    last CPU it may use, so its driver, task and GC threads share one."""
    os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})


def run_jvm(classes, jars, build_dir, workload, seconds, trace, inputs, out):
    local = os.path.join(build_dir, "local")
    shutil.rmtree(local, ignore_errors=True)
    os.makedirs(local)
    # C1 only: with C2 the JIT went on compiling for about forty ops after
    # start, and a run's median pass time moved by up to 60 % with how far
    # it had got; with C1 a pass's CPU time is flat from the first timed pass
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
            "-XX:+UseSerialGC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp_dir(build_dir)}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "graftbench.Harness",
            "--workload", workload, "--seconds", str(seconds),
            "--trace", "true" if trace else "false",
            "--tables", os.path.join(inputs, "tables"),
            "--workbook", os.path.join(inputs, "services.xlsx"),
            "--script", os.path.join(HERE, "repl_script.sql"),
            "--ops", ",".join(CURATION_OPS if workload != "repl" else []),
            "--out", out, "--local", local,
            "--slots", str(SLOTS), "--setups", str(SETUPS),
            "--warmups", str(WARMUPS)])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S, cwd=local,
                               preexec_fn=pin_to_one_cpu)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {JVM_TIMEOUT_S} s (log: {log})", 3)
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {r.returncode} (log: {log})", 3)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(res, workload):
    passes = [p for p in res["passes"] if not p["traced"]]
    lat_client = "curation" if workload == "curation" else "repl"
    lat = [o["wall_s"] for o in res["ops"]
           if o["ok"] and not o["traced"] and o["client"] == lat_client]
    if not passes or not lat:
        fail("no successful timed op", 3)
    return {
        "setup_s": statistics.median(res["setups_s"]),
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": percentile(lat, TAIL_PCT[workload]),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "retained_mb": res["retained_mb"],
        "written_mb": statistics.median(p["written_bytes"] for p in passes) / 1048576.0,
    }


def per_layer(res, names):
    traced = [l["metrics"] for l in res["layers"]]
    plain = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    with_trace = [p["wall_s"] for p in res["passes"] if p["traced"]]
    out = {}
    for n in names:
        vals = [m[n] for m in traced if n in m]
        # an op a workload does not run, or a layer it does not use, reads 0
        out[n] = statistics.median(vals) if vals else 0.0
    if "trace.overhead_pct" in names:
        out["trace.overhead_pct"] = 100.0 * (statistics.median(with_trace) /
                                             statistics.median(plain) - 1.0)
    if "setup.warmup_s" in names:
        out["setup.warmup_s"] = res["warmup_s"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes, jars = build(build_dir)
    # keyed by the generator's source too, so a changed generator
    # does not reuse inputs it would no longer make
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:12]
    inputs = gen.ensure(a.seed, os.path.join(build_dir, "inputs",
                                             f"seed-{a.seed}-{gen_id}"))
    out = os.path.join(build_dir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    res = run_jvm(classes, jars, build_dir, a.workload, a.seconds, a.trace == 1,
                  inputs, out)

    ops = res["ops"]
    failed = {}
    for o in ops:
        if not o["ok"]:
            failed.setdefault(o["client"], set()).add(o["op"])
            print(f"failed op: {o['client']}/{o['op']} pass {o['pass']}: "
                  f"{o['err'][:300]}", file=sys.stderr)
    problems = check.check_run(out, inputs, os.path.join(HERE, "repl_script.sql"),
                               a.workload, CURATION_OPS, failed)
    problems += [f"{op}: output differs between passes" for op in res["inconsistent"]]
    for p in problems:
        print(f"wrong output: {p}", file=sys.stderr)

    if a.trace:
        specs = spec["per_layer"]
        values = per_layer(res, [m["name"] for m in specs])
    else:
        specs = spec["end_to_end"]
        values = end_to_end(res, a.workload)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
    print(json.dumps({"correct": not problems, "attempted": len(ops),
                      "failed": sum(1 for o in ops if not o["ok"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
