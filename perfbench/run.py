#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source (`sbt "Compile / products"` in perfbench/, offline) and writes the
sf0.1 fixture (gen_data.py); later runs reuse both until a source file
changes. The harness prints a report, and its last stdout line is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
RUN_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
WORKLOADS = ["analytics", "catalog_refresh", "lake_mixed", "embed_search"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def fresh(stamp, digest):
    return os.path.exists(stamp) and open(stamp).read() == digest


def spark_home():
    """$SPARK_HOME, or the first Spark installation (bin/spark-submit next
    to jars/) on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("perfbench: Spark not found; set SPARK_HOME")


def build():
    engine = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(engine, "scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found; "
                 "run from the root of a full checkout")
    digest = tree_hash([engine, os.path.join(HERE, "src", "main"),
                        os.path.join(HERE, "build.sbt"),
                        os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(STATE, "build.stamp")
    if fresh(stamp, digest):
        return
    log("building engine + harness (sbt compile, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def fixture():
    gen = os.path.join(HERE, "gen_data.py")
    digest = tree_hash([gen])
    out = os.path.join(STATE, "sf0.1")
    stamp = os.path.join(STATE, "data.stamp")
    if fresh(stamp, digest) and os.path.isdir(out):
        return out
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, gen, "--sf", "0.1", "--seed", "42", "--out", out],
                   check=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def classpath():
    return ":".join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                     os.path.join(spark_home(), "jars", "*")])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    data = fixture()
    work = os.path.join(STATE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={work}", "-cp", classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--home", HERE])
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                dst = os.path.join(STATE, f"spans-{a.workload}-{a.seed}.jsonl")
                shutil.copyfile(spans, dst)
                log(f"spans written to {dst}")
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if p.returncode != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"perfbench: harness exited with {p.returncode}")
    for line in lines[:-1]:
        print(line)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
