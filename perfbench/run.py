"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It builds the program
and this package from source (once per checkout), generates the
workload's inputs from the seed, runs the workload in its own JVM on
`local[n]` (n = min(4, cores) - 1), checks every output, and prints the
metrics as one JSON object on the last line of stdout: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(HERE, ".build")
DEADLINE_S = 170
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]] + [
    "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.level=ERROR"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "project", "build.properties"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile the program and this package with sbt, offline, and return
    the runtime classpath; reused while the sources are unchanged."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g",
                                f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"])
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        with open(log, "a") as out:
            out.write(p.stdout)
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main are missing)")
    cp = classpath()

    started = time.time()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t = time.time()
        stats = gen.generate(args.workload, args.seed, data)
        gen_s = time.time() - t
        # one core is left to the driver thread, the JIT compiler and GC:
        # with all four given to tasks, two busy cores elsewhere on the host
        # slowed a curate_stream run 1.7x, against 1.2x with three
        cores = max(1, min(4, os.cpu_count() or 1) - 1)
        raw_file = os.path.join(work, "raw.json")
        log = os.path.join(work, "jvm.log")
        # Spark's block and shuffle files and every temp file stay in the run's
        # scratch directory, inside the checkout
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        local = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                 f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
        cmd = ["java"] + JAVA_OPTS + local + ["-cp", cp, "perfbench.Main", args.workload,
                                              str(args.seconds), str(args.trace), str(cores),
                                              str(args.seed), data, os.path.join(work, "jvm"),
                                              raw_file]
        with open(log, "w") as out:
            # the JVM exits when its stdin closes, so it cannot outlive this
            # process; it runs in the scratch directory, where the program's
            # own scratch stores land
            p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE, stdout=out,
                                 stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
                p.stdin.close()
        with open(log) as f:
            jvm_log = f.read()
        if code != 0 or not os.path.exists(raw_file):
            sys.stderr.write(jvm_log[-4000:])
            fail(f"workload JVM {'timed out' if code is None else f'exited {code}'}")
        # the workload's own messages: failed operations and checks
        sys.stderr.writelines(ln for ln in jvm_log.splitlines(True) if ln.startswith("[perfbench]"))
        with open(raw_file) as f:
            raw = json.load(f)
        t = time.time()
        bad = oracle.failed_ops(raw["outputs"], data) if raw["outputs"] else set()
        check_s = time.time() - t
        for o in raw["ops"]:
            if o["id"] in bad:
                o["ok"] = False
                print(f"[perfbench] {o['kind']} differs from its DuckDB oracle", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, detail = metrics.end_to_end(raw, gen_s)
    chosen = metrics.per_layer(raw) if args.trace else e2e
    detail.update({"inputs": stats, "cores": cores, "oracle_check_s": round(check_s, 1),
                   "run_s": round(time.time() - started, 1)})
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
