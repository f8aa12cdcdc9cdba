"""Benchmark command: builds the engine and harness, runs one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--out DIR] [--fault LAYER]

Run from the repository root. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones. Every metric
is printed as ``name value unit``; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. The full self-describing report, and the spans, are written
to ``--out`` (default ``.bench_build/runs/<workload>-trace<t>``). The
exit code is non-zero when the build fails, the run fails or times out,
or any correctness check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# A run must end within 180 s; leave room for the JVM to stop.
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# JVMs running now, for the signal handler
CHILDREN = []


def parse(workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--out")
    p.add_argument("--fault", help="layer whose first measured call throws")
    return p.parse_args()


def commit():
    # only this checkout's own history; never a repository above it
    if not os.path.isdir(".git"):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classpath, args, out, deadline, jvm_flags=()):
    """Runs graftbench.Main; every file it writes stays under `out`."""
    tmp = os.path.join(out, "tmp")
    cmd = [build.java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false", *jvm_flags]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classpath, "graftbench.Main"] + args
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env)
        CHILDREN.append(proc)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None
        finally:
            CHILDREN.remove(proc)


def stop_children(signum, _frame):
    """On SIGTERM, SIGINT or SIGHUP: kills the running JVM, waits for it,
    and exits. (The JVM also halts by itself when this process dies.)"""
    for proc in list(CHILDREN):
        proc.kill()
        proc.wait()
    sys.exit(128 + signum)


def class_archive(classpath, deadline):
    """The JVM's class-data archive of what a run loads while it starts
    Spark and writes its inputs, made once per build by one input
    generation. Runs map it instead of loading those classes from the
    jars one by one. Returns the JVM flag that uses it, or nothing if
    it could not be made."""
    path = os.path.join(build.BUILD, "classes.jsa")
    stamp = path + ".digest"
    if os.path.exists(path) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == build.key():
                return ["-XX:SharedArchiveFile=" + path]
    out = os.path.join(build.BUILD, "class-archive")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    if os.path.exists(path):
        os.remove(path)
    code = run_jvm(classpath, ["--workload", "store_churn", "--seed", "1",
                               "--seconds", "0", "--trace", "0", "--out", out,
                               "--generate-only", "1"],
                   out, deadline, ["-XX:ArchiveClassesAtExit=" + path])
    shutil.rmtree(out, ignore_errors=True)
    if code != 0 or not os.path.exists(path):
        sys.stderr.write("run: no class-data archive; starting without one\n")
        return []
    with open(stamp, "w") as fh:
        fh.write(build.key())
    return ["-XX:SharedArchiveFile=" + path]


def main():
    started = time.monotonic()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_children)
    try:
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        sys.exit(f"run: {e}")
    a = parse([w["name"] for w in spec["workloads"]])
    try:
        classpath = build.build()
        archive = class_archive(classpath, started + 600)
    except (OSError, build.BuildError) as e:
        sys.exit(f"run: {e}")
    built = time.monotonic()
    out = a.out or os.path.join(build.BUILD, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    # any integer seed: the same 64 bits as a signed long (unchanged
    # inside the long range), as the JVM side takes it
    seed = (a.seed + 2**63) % 2**64 - 2**63
    args = ["--workload", a.workload, "--seed", str(seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", out,
            "--commit", commit()]
    if a.fault:
        args += ["--fault", a.fault]
    # a run that compiled is allowed the build's time on top
    code = run_jvm(classpath, args, out,
                   (built if built - started > 5 else started) + RUN_LIMIT_S,
                   archive)
    report_path = os.path.join(out, "report.json")
    if code != 0 or not os.path.exists(report_path):
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"run: workload process {'timed out' if code is None else f'exited {code}'}")
    with open(report_path) as fh:
        report = json.load(fh)

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    source = report["per_layer"] if a.trace == "1" else report["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if isinstance(v, dict):
            v = v.get("value")
        if isinstance(v, (int, float)):
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = bool(report["correct"]) and len(metrics) == len(wanted)

    for name, check in report["checks"].items():
        print(f"check {name}: {'ok' if check else 'FAILED'}")
        if not check:
            sys.stderr.write(f"run: check {name} failed\n")
    if report.get("error"):
        print(f"error: {report['error']}")
        sys.stderr.write(f"run: a measured call failed: {report['error']}\n")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        sys.stderr.write(f"run: no value for {', '.join(missing)}\n")
    for name, m in report["workload_metrics"].items():
        if name not in metrics:
            print(f"{name} {json.dumps(m['value'])} {m['unit']}")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
