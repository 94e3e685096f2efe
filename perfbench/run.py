#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark driver from source on first use
(sbt, into target/ directories and .bench_build/), generates the
workload's inputs from the seed, runs the workload in one JVM on
Spark local[4], checks the outputs, and prints one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. Full run details go to .bench_build/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build_inputs():
    """The sources and build definitions of the program and the driver."""
    for base, src in ((ROOT, "src/main"), (HERE, "src")):
        yield os.path.join(base, "build.sbt")
        yield os.path.join(base, src)
        proj = os.path.join(base, "project")
        for f in sorted(os.listdir(proj)) if os.path.isdir(proj) else []:
            if f.endswith((".sbt", ".scala", ".properties")):
                yield os.path.join(proj, f)


def classpath():
    """Compile the program and the driver (sbt) unless the recorded
    classpath is newer than every source; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources (build.sbt, src/main/scala) in {ROOT}")
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and os.path.getmtime(stamp) > newest_mtime(build_inputs()):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if os.pathsep in l and l.startswith(os.sep)
             and "perfbench" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    if os.path.isfile(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    cp = jarred(lines[-1])
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def jarred(cp):
    """The classpath with each class directory packed into a jar under
    .bench_build/jars: the JVM archives shared classes from jars only, and
    refuses to dump an archive while a class directory is on the path."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(jars, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in sorted(os.walk(p)):
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def cpu_ticks():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_jvm(cp, args, wd, limit_s):
    cmd = ["java", "-Xmx2g", "-Xms2g", f"-Djava.io.tmpdir={wd}/tmp"]
    # class data sharing: the first run after a build dumps the classes
    # it loaded, later runs map them instead of loading and verifying
    # them again, which shortens session start and the cold first set-up
    if os.path.isfile(CDS_ARCHIVE):
        cmd += [f"-XX:SharedArchiveFile={CDS_ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    else:
        cmd += [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}", "-Xlog:cds=off"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--dir", wd,
            "--cores", str(args.cores)]
    os.makedirs(os.path.join(wd, "tmp"), exist_ok=True)
    with open(os.path.join(wd, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=wd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        with open(os.path.join(wd, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"workload JVM {'timed out' if code is None else f'exited with {code}'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="Spark local[N]; 1 gives the single-thread baseline")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    t_start = time.monotonic()
    cp = classpath()
    wd = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(wd, ignore_errors=True)
    try:
        t_gen = time.monotonic()
        gen.generate(args.workload, args.seed, args.seconds, os.path.join(wd, "in"))
        t_jvm = time.monotonic()
        cpu0 = cpu_ticks()
        run_jvm(cp, args, wd, max(30, RUN_LIMIT_S - (t_jvm - t_start)))
        cpu1 = cpu_ticks()
        with open(os.path.join(wd, "result.json")) as f:
            res = json.load(f)
        t_check = time.monotonic()
        errors = check.check(args.workload, wd, res["details"])
        # CPU time the hypervisor gave to others while the JVM ran
        res["details"]["steal_share"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
        res["details"]["wall_s"] = {"build": t_gen - t_start, "generate": t_jvm - t_gen,
                                    "jvm": t_check - t_jvm, "check": time.monotonic() - t_check}
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        res["checks"] = errors
        with open(os.path.join(BUILD, "results", name + ".json"), "w") as f:
            json.dump(res, f, indent=1)
        if args.trace:
            shutil.copy(os.path.join(wd, "trace.json"),
                        os.path.join(BUILD, "results", name + ".trace.json"))
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    # short numeric lists only: the results file keeps everything
    summary = {k: v for k, v in res["details"].items() if not isinstance(v, list)
               or (len(v) <= 32 and all(isinstance(x, (int, float)) for x in v))}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "details": summary,
                      "per_layer": res["per_layer"]}))
    kind = "per_layer" if args.trace else "end_to_end"
    # a layer the workload does not exercise reports 0
    values = res[kind]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    print(json.dumps({"correct": not errors, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
