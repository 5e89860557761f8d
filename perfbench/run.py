#!/usr/bin/env python3
"""Runs one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload drift_pair --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run builds the program's sources
and the harness into $CARGO_TARGET_DIR/perfbench (default .bench_build);
later runs reuse that build while no source has changed. Every other line of
output is for people; the last line of stdout is the result as one JSON
object. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

WORKLOADS = ("drift_pair", "drift_history", "corpus_curation")
# Input scale per workload (lineitem rows = 6M x sf, documents = 50k x sf),
# chosen so that one run's set-up plus timed phase stays near 40 s.
DEFAULT_SF = {"drift_pair": 0.01, "drift_history": 0.01, "corpus_curation": 0.002}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: the one the program's build.sbt compiles against, else $SPARK_HOME/jars."""
    with open("build.sbt") as f:
        declared = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if declared:
        return declared.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sys.exit("run.py: build.sbt names no Spark jar directory and SPARK_HOME is unset")


def sources():
    for top in ("src/main/scala", "perfbench/scala"):
        for dirpath, _, names in os.walk(top):
            for name in names:
                if name.endswith(".scala"):
                    yield os.path.join(dirpath, name)


def build(out_dir, jars):
    """Compiles into out_dir/classes unless a build of the same sources is there."""
    digest = hashlib.sha256()
    for path in sorted(list(sources()) + ["perfbench/build.sh"]):
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    print("building program and harness ...", flush=True)
    os.makedirs(out_dir, exist_ok=True)
    subprocess.run(["bash", "perfbench/build.sh", classes, jars], check=True,
                   stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--sf", type=float, help="input scale factor (default per workload)")
    ap.add_argument("--ops", type=int, default=0,
                    help="stop after this many ops, without warm-up (0: time --seconds)")
    args = ap.parse_args()

    if not os.path.isdir("src/main/scala"):
        print("run.py: no program sources (src/main/scala); run from the repository root",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    jars = spark_jars()
    classes = build(out_dir, jars)

    work = os.path.abspath(os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}"))
    trace_file = os.path.abspath(os.path.join(out_dir, "traces", f"{args.workload}-seed{args.seed}.json"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", str(args.sf if args.sf is not None else DEFAULT_SF[args.workload]),
            "--ops", str(args.ops), "--work", work, "--trace-file", trace_file]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"run.py: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    print("\n".join(lines[:-1] if result else lines), flush=True)
    if proc.returncode != 0 or result is None:
        print(f"run.py: harness exited with {proc.returncode} and no result", file=sys.stderr)
        return 1
    json.loads(result)
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
