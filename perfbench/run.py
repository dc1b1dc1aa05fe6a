#!/usr/bin/env python3
"""graft benchmark: build the harness, prepare inputs, run one workload.

    python3 perfbench/run.py --workload <archive_cycles|llm_corpus> \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload llm_corpus --pin   # rewrite pins/<workload>.tsv

Run from the repository root. The first run builds the library and the
harness with sbt (cached under .bench_build/ by a hash of their sources)
and generates the query-mix tables; later runs reuse both. The harness runs
in one JVM with Spark `local[<cores>]`, an in-process embedded Derby and
one client thread. Its log goes to stderr; the last line on stdout is one
JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
BUILD = ".bench_build"
WORKLOADS = ("archive_cycles", "llm_corpus")
# scale of the generated query-mix tables (TPC-H scale factor)
SCALE = "0.01"
HEAP = "2g"
CDS_ARCHIVE = "classes.jsa"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash(root):
    """Hash of everything the build reads: library, build files, harness."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "project"),
            os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile library and harness once per source state; return classpath.

    The classpath is all jars, so that a class-data-sharing archive of the
    classes a run loads can be dumped once per build (by a self-test run)
    and mapped by every later JVM: it takes JVM and Spark start-up, which
    are set-up, from about 7 s to about 3 s on a 4-core VM.
    """
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    stamp = os.path.join(root, BUILD, "classpath.txt")
    with open(os.path.join(root, BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        key = sources_hash(root)
        if os.path.exists(stamp):
            with open(stamp) as fh:
                cached_key, cp = fh.read().split("\n", 1)
            if cached_key == key:
                return cp.strip()
        log("building library and harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        # every JVM the sbt launcher starts keeps its temp files, server
        # socket and native-library unpacking under the build dir
        tmp = os.path.join(root, BUILD, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                    f"-Djna.tmpdir={tmp}")
        env["TMPDIR"] = tmp
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit(f"build failed (sbt exit {p.returncode})")
        cp = lines[-1].strip()
        jsa = os.path.join(root, BUILD, CDS_ARCHIVE)
        if os.path.exists(jsa):
            os.remove(jsa)
        log("dumping the class-data-sharing archive from a self-test run")
        rc = run_jvm(root, cp, "graft.perfbench.SelfTest", [],
                     [f"-XX:ArchiveClassesAtExit={jsa}"])[0]
        if rc != 0 or not os.path.exists(jsa):
            log(f"self-test exit {rc}; runs go on without a class-data archive")
        with open(stamp + ".tmp", "w") as fh:
            fh.write(key + "\n" + cp + "\n")
        os.replace(stamp + ".tmp", stamp)
        return cp


def tables(root):
    """Generate the query-mix tables once (fixed generator seed)."""
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(root, BUILD, f"data-sf{SCALE}-{version}")
    if not os.path.exists(os.path.join(out, "DONE")):
        log(f"generating query-mix tables at sf{SCALE}")
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, SCALE],
                       check=True, stdout=sys.stderr)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def java_cmd(root, cp, work, main, args, extra):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jsa = os.path.join(root, BUILD, CDS_ARCHIVE)
    # an archive that does not match the classpath is ignored by the JVM
    cds = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             *cds, *extra, *opens,
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
             f"-Dderby.stream.error.file={work}/derby.log", "-Duser.timezone=UTC",
             "-Dspark.callstack.depth=100", "-cp", cp, main] + args)


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (busy, steal, total)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7], sum(f[:8])


def run_jvm(root, cp, main, args, extra=()):
    """Run one harness JVM in a fresh work dir; return (exit code, result)."""
    work = os.path.join(root, BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby", "spark-local"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    out = os.path.join(work, "result.json")
    cmd = java_cmd(root, cp, work, main, args + ["--work", work, "--out", out], list(extra))
    cpu0 = cpu_times()
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    # a busy or slow host shows here: steal is CPU time the hypervisor
    # gave to other guests while this run wanted it
    busy, steal, total = (b - a for a, b in zip(cpu0, cpu_times()))
    log(f"host cpu during the run: busy {busy / max(1, total):.3f}, "
        f"steal {steal / max(1, total):.4f}")
    try:
        if rc != 0 or not os.path.exists(out):
            return rc, None
        with open(out) as fh:
            return rc, json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true",
                    help="record the query digests of the current code as pins")
    a = ap.parse_args()
    root = os.getcwd()
    needed = ["build.sbt", "src/main/scala/graft/ArchiverMain.scala",
              "src/main/scala/graft/SparkEntry.scala"]
    missing = [f for f in needed if not os.path.exists(os.path.join(root, f))]
    if missing:
        raise SystemExit(f"run from the graft repository root: missing {missing}")

    if not a.workload and not a.selftest:
        ap.error("--workload is required")
    cp = build(root)
    if a.selftest:
        rc = run_jvm(root, cp, "graft.perfbench.SelfTest", [])[0]
        if rc != 0:
            raise SystemExit(f"self-test failed: exit {rc}")
        log("self-test passed")
        return
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    if a.workload != "archive_cycles":
        pins = os.path.join(HERE, "pins", f"{a.workload}.tsv")
        args += ["--data", tables(root)]
        args += ["--pin-out", pins] if a.pin else ["--pins", pins]
    if a.trace == "1":
        traces = os.path.join(root, BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
        args += ["--trace-out", spans]
        log(f"spans: {spans}")
    rc, res = run_jvm(root, cp, "graft.perfbench.Main", args)
    if res is None:
        raise SystemExit(f"harness JVM failed (exit {rc}) or wrote no result")
    for k, v in res.get("detail", {}).items():
        log(f"{k} = {v}")
    for k, m in res["metrics"].items():
        log(f"{k} = {m['value']} {m['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
