#!/usr/bin/env python3
"""graft's benchmark: one workload run, in its own JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
program from source with sbt (`perfbench/build.sbt`); later runs reuse the
build while the sources are unchanged. Everything the run writes goes
under `.bench_build/` in the checkout.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics; with
--trace 1 its per-layer metrics. Standard error carries the environment
stamp and the metrics under the workload's own names. The full result,
stamp included, is kept in `.bench_build/results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# fixpoint's inputs: copies of the sf0.01 test tables lineitem and embeddings.
TABLES = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("wx_serve", "wx_ingest", "fixpoint")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    return env


def ensure_build():
    """Builds with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    for f in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"no program to build: {f} is missing from {ROOT}")
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    log("building harness and program with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail("sbt build timed out")
        except FileNotFoundError:
            fail("sbt is not on PATH")
        out.write(p.stdout)
    if p.returncode != 0:
        fail(f"sbt build failed (exit {p.returncode}); see .bench_build/build.log")
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ln.strip().startswith("/") and ".jar" in ln and not ln.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    cp = cps[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, digest


def heap_size():
    """Driver heap: a third of the box's memory, at least 2g, at most 4g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
        gb = kb // (3 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{max(2, min(4, gb))}g"


def run_jvm(cp, args, work, out):
    # The parallel collector: on 4 cores G1's concurrent threads compete
    # with the driver thread these workloads are bound by, and pass times
    # of one seed spread 6.8-9.7 s under G1 against 6.4-7.3 s under it.
    cmd = ["java", f"-Xmx{heap_size()}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--tables", TABLES,
            "--corrupt-every", str(args.corrupt_every)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (exit {code})")
    with open(out) as fh:
        return json.load(fh)


def cpu_times():
    """(busy, steal) seconds of the whole box, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return (0.0, 0.0)
    hz = os.sysconf("SC_CLK_TCK")
    return ((f[0] + f[1] + f[2] + f[5] + f[6]) / hz, f[7] / hz if len(f) > 7 else 0.0)


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


# Each workload's end-to-end metrics under the names its users know them
# by: (source, factor, unit). `op_ms` is each operation type's median
# latency averaged over the types; the plain p50, p95 and throughput are
# over all operations.
ALIASES = {
    "wx_serve": {"req_ms": ("op_ms", 1, "ms"), "req_p50_ms": ("op_p50_ms", 1, "ms"),
                 "req_p95_ms": ("op_p95_ms", 1, "ms"), "req_per_s": ("ops_per_s", 1, "1/s")},
    "wx_ingest": {"round_ms": ("op_ms", 1, "ms")},
    "fixpoint": {"pass_s": ("op_ms", 1e-3, "s")},
}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-every", type=int, default=0,
                    help="self-test: check every k-th operation against a "
                         "deliberately wrong expectation")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = json.load(fh)
    cp, digest = ensure_build()
    load0, cpu0 = os.getloadavg(), cpu_times()

    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, args, work, os.path.join(work, "result.json"))

    attempted, failed = int(res["attempted"]), int(res["failed"])
    oracle = None
    if args.workload == "fixpoint":
        sys.path.insert(0, HERE)
        import oracle as oracle_mod
        oracle = oracle_mod.check(TABLES, os.path.join(work, "oracle"))
        for q, msg in sorted(oracle.items()):
            if msg:
                log(f"oracle mismatch: {q}: {msg}")
        if any(oracle.values()):
            failed = attempted  # every pass returned the same wrong answer

    key = "per_layer" if args.trace else "end_to_end"
    values = res["layer"] if args.trace else res["e2e"]
    metrics = {}
    for m in spec[key]:
        if m["name"] not in values:
            fail(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    extra = sorted(set(values) - set(metrics))
    if extra:
        fail(f"harness reported metrics BENCHMARK.json does not list: {extra}")

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores_used": res["cores"],
        "xmx_mb": res["xmx_mb"], "java": res["java"], "spark": res["spark"],
        "git_head": git_head(), "source_digest": digest, "inputs": res["inputs"],
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "box_busy_s": round(cpu_times()[0] - cpu0[0], 2),
        "box_steal_s": round(cpu_times()[1] - cpu0[1], 2),
        "op_labels": res["labels"],
    }
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    results = os.path.join(BUILD, "results")
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{name}.json"), "w") as fh:
        json.dump({"stamp": stamp, "result": line, "oracle": oracle,
                   "e2e": res["e2e"], "layer": res["layer"], "per_op": res["per_op"]},
                  fh, indent=1, sort_keys=True)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.tsv"), os.path.join(results, f"{name}.spans.tsv"))
    shutil.rmtree(work, ignore_errors=True)  # generated inputs and outputs
    log("stamp " + json.dumps(stamp, sort_keys=True))
    if not args.trace:
        e2e = dict(res["e2e"], **res["plain"])
        named = {n: (e2e[src] * f, u) for n, (src, f, u) in ALIASES[args.workload].items()}
        if args.workload == "wx_ingest":
            rows = res["inputs"]["rows_per_round"]
            named["ingest_rows_per_s"] = (rows / (res["e2e"]["op_ms"] / 1e3), "rows/s")
        named["error_rate"] = (failed / attempted, "ratio")
        for n in ("setup_s", "cpu_s_per_op", "alloc_mb_per_op"):
            named[n] = (res["e2e"][n], metrics[n]["unit"])
        log("metrics " + ", ".join(f"{n}={v:.6g} {u}" for n, (v, u) in named.items()))
        log("jvm " + json.dumps(res["jvm"], sort_keys=True))
    print(json.dumps(line, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
