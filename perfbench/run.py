#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against local[nproc].

    python3 perfbench/run.py --workload rel-tpch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness (perfbench/build.sbt) and generates the batch tables with
graft.tools.GenData, all under .bench_build/; later runs reuse them while
the sources are unchanged. Each run starts one JVM (perfbench.Main), then
checks the outputs: batch results against their DuckDB oracle SQL through
tools/check_oracle.py (traced runs also check a streaming probe drain by
row accounting inside the JVM). The last
line of standard output is one JSON object: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics (spans and per-query layer
records go to .bench_build/traces/). See perfbench/README.md.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF = "0.01"
WORKLOADS = ["rel-tpch", "llm"]
DEADLINE_S = 170
# A run is flagged when its two spin probes differ by more than DRIFT, or
# when other guests stole more than STEAL of the host's CPU time meanwhile.
DRIFT = 1.5
STEAL = 0.10
# The JVM flags the repository's own build forks Spark with.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def read(path):
    with open(path) as f:
        return f.read()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """The tier-1 formula: half of physical memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_stamp():
    """Content hash of everything the build and the generated data depend on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_logged(cmd, log, cwd, env, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{' '.join(cmd[:3])}... timed out after {timeout} s; see {log}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(stamp):
    """Compile library + harness and export the runtime classpath, once per
    source state."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and read(stamp_file) == stamp:
        return read(cp_file).strip()
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    log = os.path.join(BUILD, "logs", "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], log, HERE, sbt_env(), 840)
    lines = [l.strip() for l in read(log).splitlines() if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and "scala-2.13" in l]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java_cmd(cp, main, args, mem):
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opts + [
        f"-Xmx{mem}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "-cp", cp, main]
        + [str(a) for a in args])


def jvm_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "tmp")
    return env


def data(cp, stamp, mem):
    """The batch tables, generated deterministically by graft.tools.GenData."""
    d = os.path.join(BUILD, "data", f"sf{SF}")
    stamp_file = d + ".stamp"
    if os.path.isfile(stamp_file) and read(stamp_file) == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    log = os.path.join(BUILD, "logs", "gendata.log")
    rc = run_logged(java_cmd(cp, "graft.tools.GenData", [d, SF], mem), log,
                    ROOT, jvm_env(), 600)
    if rc != 0:
        fail(f"data generation failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return d


def commit(stamp):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return f"source-sha256:{stamp[:16]}"


def oracle_check(check_dir, data_dir, names):
    """tools/check_oracle.py over the written results; returns name -> reason
    for every query it does not pass."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        check_dir, data_dir] + names, cwd=ROOT, text=True,
                       capture_output=True, timeout=120)
    passed = {l.split()[1] for l in p.stdout.splitlines() if l.startswith("PASS ")}
    failed = {}
    for l in p.stdout.splitlines():
        if l.startswith("FAIL "):
            name = l.split()[1].rstrip(":")
            failed[name] = l[5:][:300]
    for n in names:
        if n not in passed and n not in failed:
            failed[n] = f"oracle check produced no verdict (exit {p.returncode}): " \
                        f"{p.stderr.strip()[-200:]}"
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-wrong", metavar="QUERY",
                    help="self-test: corrupt this query's checked output")
    a = ap.parse_args()
    t_start = time.time()
    # On SIGTERM, exit through the handlers that stop the child JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ["build.sbt", "src/main/scala/graft", "tools/check_oracle.py"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the graft repository")
    for d in ["logs", "tmp", "traces"]:
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)

    stamp = source_stamp()
    mem = driver_mem()
    cp = build(stamp)
    data_dir = data(cp, stamp, mem)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--data", data_dir, "--work", work]
    if a.inject_wrong:
        args += ["--inject-wrong", a.inject_wrong]
    log = os.path.join(BUILD, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    budget = max(30, int(DEADLINE_S - (time.time() - t_start)))
    rc = run_logged(java_cmd(cp, "perfbench.Main", args, mem), log, ROOT,
                    jvm_env(), budget)
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result_file):
        fail(f"benchmark JVM failed (exit {rc}); see {log}")
    r = json.loads(read(result_file))

    # The first warm-up pass (first executions) and the final pass (repeat
    # executions) each wrote every query's result; both are checked.
    check_failed = dict(r["check"]["failed"])
    written = [n for n in r["queries"] if n not in check_failed]
    for d in r["check"]["dirs"]:
        which = os.path.basename(d)
        for name, why in oracle_check(d, data_dir, written).items():
            check_failed[name] = "; ".join(
                x for x in [check_failed.get(name), f"{which} run: {why}"] if x)

    passes = r["passes"]
    ops = [o for p in passes for o in p["ops"]] + r["probe_ops"]
    bad = stats.failed_ops(ops, check_failed)
    plain = [p for p in passes if not p["traced"]]
    samples = [o["s"] for p in plain for o in p["ops"]]
    mix = stats.median([sum(o["s"] for o in p["ops"]) for p in plain])
    mix_cpu = stats.median([sum(o["cpu_s"] for o in p["ops"]) for p in plain])
    p50 = stats.median(samples)
    tail_p, tail_v, n = stats.tail(samples)
    setup = r["setup_s"]
    probe0, probe1 = r["probe_s"]
    h = r["host"]
    steal = h.get("steal_share")
    drift = max(probe0, probe1) / min(probe0, probe1) > DRIFT or (steal or 0) > STEAL

    say = lambda s: print(s, flush=True)  # noqa: E731
    say(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: commit={commit(stamp)} "
        f"nproc={h['cores']} driver_mem={mem} spark={h['spark_version']} "
        f"java={h['java_version']} sf={SF}")
    say(f"host probe: {probe0:.3f} s before, {probe1:.3f} s after; "
        + (f"{steal:.1%} of host CPU stolen meanwhile" if steal is not None else "steal unknown")
        + ("  ** HOST DRIFT: run not comparable **" if drift else " (steady)"))
    say(f"setup_s = {setup:.4f} s (JVM start to the end of the warm-up passes)")
    say(f"mix_s = {mix:.4f} s (median of {len(plain)} untraced passes)")
    say(f"mix_cpu_s = {mix_cpu:.4f} s (JVM CPU time per pass, all threads)")
    say(f"query_p50_s = {p50:.4f} s (n={n})")
    say(f"query_tail_s = {tail_v:.4f} s (p{tail_p}, n={n})")
    say(f"heap_peak_mb = {r['heap_peak_mb']:.1f} MB")
    say(f"error_rate = {len(bad) / len(ops):.4f} ratio ({len(bad)}/{len(ops)})")
    for name, why in sorted(check_failed.items()):
        say(f"  WRONG {name}: {why}")
    for o in ops:
        if o.get("error"):
            say(f"  ERROR {o['group']}: {o['error']}")

    if a.trace:
        traced = [sum(o["s"] for o in p["ops"]) for p in passes if p["traced"]]
        overhead = stats.trace_overhead([(p["traced"], sum(o["s"] for o in p["ops"]))
                                         for p in passes])
        trace_file = os.path.join(work, "trace.json")
        t = json.loads(read(trace_file))
        t["trace_overhead_s"] = overhead
        t["self_ms_by_layer"] = stats.self_ms_by_layer(t["spans"])
        out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(out, "w") as f:
            json.dump(t, f)
        say(f"tracing overhead = {overhead:+.4f} s per pass "
            f"(traced {stats.median(traced):.4f} s vs untraced {mix:.4f} s)")
        say(f"trace: {len(t['spans'])} spans, {len(t['records'])} query records -> {out}")
        for layer, ms in sorted(t["self_ms_by_layer"].items(), key=lambda x: -x[1])[:8]:
            say(f"  self time {layer}: {ms:.1f} ms")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(r["layers"].items())}
    else:
        metrics = {
            "setup_s": {"value": setup, "unit": "s"},
            "mix_s": {"value": mix, "unit": "s"},
            "mix_cpu_s": {"value": mix_cpu, "unit": "s"},
            "query_p50_s": {"value": p50, "unit": "s"},
            "heap_peak_mb": {"value": r["heap_peak_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(bad),
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("ns_per_row"):
        return "ns/row"
    if name == "exec.util":
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
