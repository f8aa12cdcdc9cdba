"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Run from the repository root. Checks that

1. the generator gives byte-identical inputs for the same seed (the
   digest of the generated rows, and the parquet files' bytes up to
   their footers) and different inputs for another seed, for every
   workload;
2. an injected fault shows as a failed, incorrect run with a non-zero
   exit, never as a fast time;
3. and reports the tracing overhead: traced minus untraced ``result_s``
   of one ``batch_pipelines`` run pair on the same seed.

Exits non-zero if 1 or 2 fails. Takes about five minutes.
"""
import hashlib
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

OUT = os.path.join(build.BUILD, "selftest")
UUID = r"-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
FAILURES = []


def check(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        FAILURES.append(what)


def generate(classpath, workload, seed):
    out = os.path.join(OUT, f"gen-{workload}-{seed}-{time.monotonic_ns()}")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", "0",
            "--trace", "0", "--out", out, "--generate-only", "1"]
    code = run.run_jvm(classpath, args, out, time.monotonic() + 170)
    if code != 0:
        sys.exit(f"input generation for {workload} exited {code}")
    with open(os.path.join(out, "report.json")) as fh:
        inputs = json.load(fh)["inputs"]
    digests = {k: v for k, v in inputs.items() if k.endswith("input_digest")}
    return digests, parquet_digest(os.path.join(out, "inputs"))


def parquet_digest(root):
    """Digest of every parquet file's bytes up to its footer, keyed by
    its path with the per-write unique id removed. The footer is left
    out: parquet-mr lists each column's encodings in hash-set order,
    which differs between JVMs."""
    h = hashlib.sha256()
    files = []
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                key = re.sub(UUID, "", os.path.relpath(
                    os.path.join(d, n), root))
                files.append((key, os.path.join(d, n)))
    for key, path in sorted(files):
        h.update(key.encode())
        with open(path, "rb") as fh:
            data = fh.read()
        footer = int.from_bytes(data[-8:-4], "little")
        h.update(hashlib.sha256(data[:len(data) - 8 - footer]).digest())
    return h.hexdigest(), len(files)


def bench(workload, seed, trace, *extra):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", "5", "--trace", str(trace), *extra],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def main():
    classpath = build.build()
    os.makedirs(OUT, exist_ok=True)

    for workload in ("batch_pipelines", "store_churn"):
        a = generate(classpath, workload, 1)
        b = generate(classpath, workload, 1)
        c = generate(classpath, workload, 2)
        check(a == b, f"{workload}: seed 1 twice gives identical inputs "
                      f"({a[1][1]} parquet files)")
        check(a[0] != c[0] and a[1][0] != c[1][0],
              f"{workload}: seed 2 gives different inputs")

    code, result = bench("batch_pipelines", 1, 0, "--fault", "ml.Train")
    check(code != 0 and result is not None and not result["correct"]
          and result["failed"] >= 1 and "result_s" not in result["metrics"],
          "injected fault: run fails, counts a failure, reports no result_s "
          f"(exit {code}, failed {result and result['failed']} of "
          f"{result and result['attempted']})")

    _, plain = bench("batch_pipelines", 1, 0)
    _, traced = bench("batch_pipelines", 1, 1)
    if plain and traced and "result_s" in plain["metrics"]:
        u = plain["metrics"]["result_s"]["value"]
        t = traced["metrics"]["trace.result_s"]["value"]
        print(f"tracing overhead: result_s {u:.3f} s untraced, {t:.3f} s "
              f"traced, {t - u:+.3f} s ({100 * (t - u) / u:+.1f}%), one pair")
    else:
        check(False, "tracing overhead: both runs must succeed")

    if FAILURES:
        sys.exit(f"{len(FAILURES)} self-test(s) failed")


if __name__ == "__main__":
    main()
