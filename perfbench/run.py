#!/usr/bin/env python3
"""The repo benchmark: one closed-loop workload run per invocation.

    python3 perfbench/run.py --workload scan|ingest|ann --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine and
the benchmark (perfbench/build.py). Each run starts one JVM with a
local[nproc] Spark session, sets up, warms up, runs the timed ops,
checks every answer, and writes its full artifact under
.bench_build/perfbench/out/. The last stdout line is the summary:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

    python3 perfbench/run.py --selftest     # determinism and tail-rule checks

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("scan", "ingest", "ann")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def run_jvm(workload, seed, seconds, trace, deadline_s=RUN_TIMEOUT_S):
    """Build if needed, run one workload in a fresh JVM, return its artifact."""
    classes, jars, digest = build.build()
    out_dir = os.path.join(build.BUILD, "out")
    work = os.path.join(build.BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    artifact = os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(artifact):
        os.remove(artifact)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    # -XX:TieredStopAtLevel=1: C1 only. Spark's code surface and the
    # classes generated per query keep C2 compiling through any warm-up a
    # run can afford, on the cores the workload runs on; C1 compiles the
    # same methods in a fraction of the time (see README.md). C1 alone
    # gets a 48 MB code cache by default, which those classes fill; once
    # full, the JVM stops compiling, so the cache is sized as for tiered.
    # -XX:CompileThresholdScaling=0.25: methods compile after a quarter of
    # the usual calls, so the warm-up a run can afford gets further.
    # -XX:-BytecodeVerificationRemote: the jars come from the build and
    # Spark's install; skipping their verification shortens JVM start-up.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
           "-XX:CompileThresholdScaling=0.25",
           "-XX:+UnlockDiagnosticVMOptions",
           "-XX:-BytecodeVerificationRemote",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", artifact]
    env = dict(os.environ, PERFBENCH_SOURCE_DIGEST=digest, PERFBENCH_GIT_COMMIT=git_commit())
    log_path = os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                    cwd=work)
            try:
                code = proc.wait(timeout=deadline_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RuntimeError(f"{workload} run exceeded {deadline_s} s")
        if code != 0 or not os.path.exists(artifact):
            with open(log_path) as fh:
                tail_lines = fh.read()[-6000:]
            raise RuntimeError(f"{workload} JVM exited with {code}\n{tail_lines}")
        with open(artifact) as fh:
            return json.load(fh), artifact
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(art, trace, artifact_path):
    t = art["timed"]
    attempted, failed = t["attempted"], t["failed"]
    if trace:
        metrics = stats.summarize_layers(art)
        untraced = artifact_path.replace("-trace1.json", "-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            base_p50 = stats.summarize(base)[0]["p50_ms"][0]
            overhead = metrics["trace.p50_ms"][0] / base_p50 - 1.0
            print(f"perfbench: tracing overhead on p50_ms: {overhead:+.1%} "
                  f"(untraced {base_p50:.3f} ms, traced {metrics['trace.p50_ms'][0]:.3f} ms)")
        for row in art["layer_table"]:
            value, unit = metrics[row["name"]]
            print(f"perfbench: {row['name']} = {value:.6g} {unit} -> {row['moves']}")
    else:
        metrics, tail_desc = stats.summarize(art)
        print(f"perfbench: {art['workload']} tail_ms is {tail_desc}; repeat share "
              f"{art.get('repeat_share', 0.0):.3f}; failures {t['failures'][:3]}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if args.selftest:
        import selftest
        return selftest.main((args.workload,) if args.workload else WORKLOADS)
    if not args.workload:
        ap.error("--workload is required")
    try:
        art, path = run_jvm(args.workload, args.seed, args.seconds, args.trace)
        line = result_line(art, args.trace, path)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
