#!/usr/bin/env python3
"""spark-polars benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the library and the
harness from source (sbt, offline) and generates the x5 replica of the
fixtures; later calls reuse both. The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Other modes:
    --selftest   digest self-test (a one-row change flips the digest)
    --expect     regenerate expected.json from the DuckDB oracle
                 (graft.Verify dump + tools/check.py, then digest the dump)
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(WORK, "sbt-target", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
SF = os.path.join(BENCH, "data", "sf0.1")
RUN_TIMEOUT_S = 170
WORKLOADS = {
    "interactive_sf0.1": "sf0.1",
    "etl_x5": "x5",
}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(cmd, timeout=None, env=None, cwd=None, capture=False):
    """Run a command in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd or ROOT, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=subprocess.PIPE if capture else sys.stderr, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def sources_fingerprint():
    h = hashlib.sha1()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = os.path.join(WORK, "build.stamp")
    fp = sources_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.isdir(CLASSES):
        return
    log("building library + harness with sbt (offline)")
    env = dict(os.environ, BENCH_BUILD_DIR=WORK, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, _, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                     env=env, cwd=BENCH, timeout=800)
    if code != 0:
        sys.exit("sbt build failed")
    with open(stamp, "w") as f:
        f.write(fp)


def java(main, args, heap="4g", timeout=None, capture=False):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{SPARK_JARS}/*", main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    return run(cmd, timeout=timeout, env=env, capture=capture)


def manifest():
    with open(os.path.join(BENCH, "inputs.json")) as f:
        return json.load(f)


REPLICA = os.path.join(WORK, "data", f"x{manifest()['replica_factor']}")


def ensure_replica():
    """The x5 replica of the fixtures, made once per checkout. It is used only
    after graft.ScaleData finished and its own shape checks passed; a partial
    directory is discarded and regenerated."""
    marker = os.path.join(REPLICA, "_COMPLETE")
    if os.path.exists(marker):
        return
    m = manifest()
    tmp = REPLICA + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(REPLICA, ignore_errors=True)
    log("generating the x5 replica with graft.ScaleData")
    code, _, _ = java("graft.ScaleData", [SF, tmp, str(m["replica_factor"])], timeout=800)
    if code != 0:
        sys.exit("graft.ScaleData failed")
    os.rename(tmp, REPLICA)
    with open(marker, "w") as f:
        f.write("ok\n")


def prepare():
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("run from the root of a spark-polars checkout (no src/main/scala/graft here)")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("SPARK_HOME must name a Spark distribution (its jars/ are the classpath)")
    if not all(os.path.isfile(os.path.join(SF, f"{t}.parquet")) for t in manifest()["sf0.1"]):
        sys.exit(f"fixtures missing under {SF}")
    build()
    ensure_replica()


def measure(a):
    try:
        code, out, err = java("graftbench.Main",
                              [a.workload, str(a.seed), str(a.seconds), str(a.trace), BENCH, WORK],
                              timeout=RUN_TIMEOUT_S, capture=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"benchmark JVM did not finish within {RUN_TIMEOUT_S} s")
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(logs, tag + ".log"), "w") as f:
        f.write(err)
    lines = out.splitlines()
    record = [l[len("RECORD "):] for l in lines if l.startswith("RECORD ")]
    result = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    if code != 0 or not result:
        sys.stderr.write(err[-4000:])
        sys.exit(f"benchmark JVM exited with {code}")
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", tag + ".json"), "w") as f:
        f.write(record[-1] + "\n")
    print(record[-1])
    print(result[-1])


def expect():
    """expected.json: per dataset and key, (rows, digest) of the graft.Verify
    dump, accepted only where tools/check.py finds it equal to DuckDB's."""
    import collections
    keys = collections.defaultdict(list)
    # the key lists live in Main.scala; ask the harness for them
    code, out, _ = java("graftbench.Main", ["keys"], capture=True)
    for line in out.splitlines():
        if line.startswith("KEYS "):
            _, ds, *ks = line.split()
            keys[ds] += [k for k in ks if k not in keys[ds]]
    expected = {}
    for ds, ks in sorted(keys.items()):
        data = SF if ds == "sf0.1" else REPLICA
        dump = os.path.join(WORK, "verify", ds)
        shutil.rmtree(dump, ignore_errors=True)
        code, _, _ = java("graft.Verify", [data, dump] + ks)
        if code != 0:
            sys.exit(f"graft.Verify failed on {ds}")
        ok = set()
        for k in ks:
            try:
                code, out, _ = run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                                    dump, data, k], capture=True, timeout=900)
            except subprocess.TimeoutExpired:
                out = f"TIMEOUT {k}: oracle did not finish in 900 s\n"
            sys.stderr.write(out)
            ok |= {l.split()[1] for l in out.splitlines() if l.startswith("OK ")}
        code, out, _ = java("graftbench.Main", ["digest", WORK, dump] + sorted(ok), capture=True)
        expected[ds] = {}
        for line in out.splitlines():
            if line.startswith("DIGEST "):
                _, k, rows, d = line.split()
                expected[ds][k] = {"rows": int(rows), "digest": d}
        missing = sorted(set(ks) - set(expected[ds]))
        if missing:
            log(f"{ds}: no oracle-checked expectation for {missing}")
    with open(os.path.join(BENCH, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--expect", action="store_true")
    a = p.parse_args()
    prepare()
    if a.selftest:
        code, _, _ = java("graftbench.Main", ["selftest"], timeout=RUN_TIMEOUT_S)
        sys.exit(code)
    if a.expect:
        expect()
        return
    if not a.workload:
        p.error("--workload is required")
    measure(a)


if __name__ == "__main__":
    main()
