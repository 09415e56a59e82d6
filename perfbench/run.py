#!/usr/bin/env python3
"""Benchmark of the graft engine, one workload per invocation.

    python3 perfbench/run.py --workload short_sf001 --seed 1 --seconds 10 --trace 0

Run from the repository root. Steps:

1. Build the program (src/main) and the benchmark harness from source
   with the Scala compiler shipped in the Spark distribution that
   build.sbt names as `unmanagedBase`. The build is cached under
   perfbench/.out/build, keyed by a digest of every source file.
2. Run the workload in its own JVM on local[min(nproc, 4)], with
   shuffle partitions equal to the core count (perfbench/harness).
3. Check the workload's outputs, untimed, with scripts/selfcheck.py:
   committed digests for the sf0.01 corpus, DuckDB for the 10x twin.
4. Print one JSON object as the last stdout line: the end-to-end
   metrics with --trace 0, the per-layer metrics with --trace 1.

The full artifact of a run (host facts, raw samples, spans, every
computed metric) is left in perfbench/.out/runs/<workload>-s<seed>-t<trace>.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

JVM_TIMEOUT_S = 140
STAGE_TIMEOUT_S = 120
CHECK_TIMEOUT_S = 60
# no hsperfdata file in the system temp dir
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sbt_settings():
    """The Spark jar directory and JVM module opens from build.sbt."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        die("build.sbt not found; run from a full checkout")
    text = open(path).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    jars = m.group(1) if m else os.path.join(
        os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark distribution with a Scala compiler at " + jars)
    opens = []
    for pkg in re.findall(r'"(java\.base/[\w./]+)"', text):
        opens += ["--add-opens", pkg + "=ALL-UNNAMED"]
    return jars, opens


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        die("no program sources under src/main; run from a full checkout")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return main, harness


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, cp, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed", 3)


def build(jars):
    """Compiled program + harness class dirs; rebuilt when any source
    changes. Returns (classpath, source digest, seconds spent)."""
    main, harness = sources()
    src_digest = digest(main + harness + [os.path.join(ROOT, "build.sbt")])
    dest = os.path.join(OUT, "build", src_digest[:16])
    classes, hcls = os.path.join(dest, "classes"), os.path.join(dest, "harness")
    spark_cp = os.path.join(jars, "*")
    t0 = time.time()
    if not os.path.isfile(os.path.join(dest, "ok")):
        shutil.rmtree(os.path.join(OUT, "build"), ignore_errors=True)
        scalac(jars, spark_cp, classes, main)
        scalac(jars, classes + os.pathsep + spark_cp, hcls, harness)
        shutil.copy(os.path.join(HERE, "harness", "log4j2.properties"), hcls)
        open(os.path.join(dest, "ok"), "w").close()
    cp = os.pathsep.join([hcls, classes, spark_cp])
    return cp, src_digest, time.time() - t0


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(cp, opens, main, argv, work, cores, timeout):
    """Runs one JVM of the program with its temp, spill and warehouse
    dirs inside `work`; returns the launch time (epoch seconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(
            cp.split(os.pathsep)[0], "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + os.path.join(work, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "hadoop"),
        "-Dderby.system.home=" + work,
        "-cp", cp, main] + argv)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    log = os.path.join(work, main.rsplit(".", 1)[-1])
    t_launch = time.time()
    with open(log + ".out", "w") as out, open(log + ".err", "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=err)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("%s exceeded %d s" % (main, timeout), 4)
    if rc != 0:
        with open(log + ".err") as f:
            sys.stderr.write(f.read()[-3000:])
        die("%s exited with %d" % (main, rc), 4)
    return t_launch


def data_dir(cp, opens, wl, cores):
    """The workload's input dir. A twin (`copies` > 1) is staged once
    per build with graft.StageScale and reused by later runs, so its
    staging is not part of any run's set-up."""
    src = os.path.join(HERE, wl["data"])
    copies = wl.get("copies", 1)
    if copies == 1:
        return src
    dst = os.path.join(os.path.dirname(cp.split(os.pathsep)[0]),
                       "%s_x%d" % (os.path.basename(src), copies))
    if not os.path.isdir(dst):
        staging = dst + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        java(cp, opens, "graft.StageScale",
             [src, os.path.join(staging, "data"), str(copies)], staging,
             cores, STAGE_TIMEOUT_S)
        os.rename(os.path.join(staging, "data"), dst)
        shutil.rmtree(staging)
    return dst


def oracle_check(result, work, names):
    """Names whose written output does not match the oracle."""
    check = os.path.join(ROOT, "scripts", "selfcheck.py")
    if not os.path.isfile(check):
        die("scripts/selfcheck.py not found")
    written = result["verify_written"]
    env = dict(os.environ,
               GRAFT_ORACLE_CACHE=os.path.join(OUT, "oracle_cache"))
    r = subprocess.run([sys.executable, check, result["data_dir"],
                        os.path.join(work, "verify")] + written,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, env=env, timeout=CHECK_TIMEOUT_S)
    with open(os.path.join(work, "selfcheck.log"), "w") as f:
        f.write(r.stdout)
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    return sorted(n for n in names if n not in passed)


def end_to_end(result, t_launch):
    samples = result["samples"]
    walls = metrics.pass_walls(samples)
    cpu = {}
    for x in samples:
        cpu[x["pass"]] = cpu.get(x["pass"], 0.0) + x["cpu_ns"] / 1e9
    lat = [(x["end_us"] - x["start_us"]) / 1e6 for x in samples]
    m = {
        "setup_s": result["setup_done_ms"] / 1000.0 - t_launch,
        "wall_s": metrics.median(list(walls.values())),
        "latency_p50_s": metrics.median(lat),
        "cpu_s": metrics.median(list(cpu.values())),
        "rss_peak_mb": result["rss_peak_kb"] / 1024.0,
    }
    extra = {"samples": len(lat), "passes": len(walls)}
    if metrics.percentile_supported(len(lat), 0.9):
        extra["latency_p90_s"] = metrics.percentile(lat, 0.9)
    return m, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if args.workload not in workloads:
        die("unknown workload %r" % args.workload)
    wl = workloads[args.workload]
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    jars, opens = sbt_settings()
    cp, src_digest, build_s = build(jars)
    cores = min(nproc(), 4)

    work = os.path.join(OUT, "runs", "%s-s%d-t%d" % (
        args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = data_dir(cp, opens, wl, cores)
    t_launch = java(cp, opens, "perfbench.Harness", [
        "data=" + data, "out=" + work, "queries=" + ",".join(wl["queries"]),
        "seed=%d" % args.seed, "seconds=%s" % args.seconds,
        "trace=%d" % args.trace, "cores=%d" % cores],
        work, cores, JVM_TIMEOUT_S)
    result = load_json(os.path.join(work, "result.json"))
    names = wl["queries"]
    mismatched = oracle_check(result, work, names)
    raised = sorted(result["failures"])
    bad = sorted(set(raised) | set(mismatched))

    if args.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        values, extra = metrics.layer_metrics(result, spans), {}
    else:
        values, extra = end_to_end(result, t_launch)
    artifact = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": {"nproc": nproc(), "cores_used": cores,
                 "heap_max_mb": int(result["heap_max_mb"]),
                 "git_sha": git_sha(), "source_sha256": src_digest,
                 "spark": result["spark_version"]},
        "build_s": build_s,
        "membership": names,
        "failed_frac": metrics.failed_frac(len(names), raised, mismatched),
        "raised": result["failures"], "mismatched": mismatched,
        "metrics": values, "extra": extra,
    }
    declared = bench["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(values):
        die("computed metrics %s differ from BENCHMARK.json %s"
            % (sorted(values), sorted(units)), 5)
    with open(os.path.join(work, "metrics.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": not bad,
        "attempted": len(names),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
