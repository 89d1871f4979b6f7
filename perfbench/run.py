"""Product-path benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
(perfbench/build.py), then runs one workload in one JVM with the
workload's generator parameters from perfbench/workloads.json. The last
line of stdout is the result object; the full record, host facts and,
with --trace 1, the spans go to .bench_build/results/. Exits non-zero
when the build, the run or any output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def commit_id(root, digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-sha256:" + digest[:16]


def trace_overhead(results_dir, workload, seed, traced):
    """Traced minus untraced wall and median op time for one seed, when
    both runs' records are present."""
    plain = os.path.join(results_dir, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(plain):
        return None
    with open(plain) as fh:
        untraced = json.load(fh)
    a, b = traced["op_latencies_s"], untraced["op_latencies_s"]
    if not a or not b:
        return None
    med = lambda xs: sorted(xs)[len(xs) // 2]
    return {"op_p50_s": med(a) - med(b),
            "wall_s": traced["wall_s"] - untraced["end_to_end"]["wall_s"]["value"]}


def run_jvm(root, spec, jar, digest, workload, seed, seconds, trace, cds,
            tag, setup_only=False):
    """Run one workload in a fresh JVM; return (exit code, stdout, the
    result-record path, the stderr log path)."""
    bdir = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bdir, "work", f"{workload}-{seed}-{os.getpid()}")
    results_dir = os.path.join(bdir, "results")
    results = os.path.join(results_dir, f"{tag}.json")
    log = os.path.join(results_dir, f"{tag}.log")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results_dir, exist_ok=True)

    params = spec["workloads"][workload]["params"]
    heap = spec["jvm"]["heap"]["value"]
    cmd = ["java", *cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.maxPlanStringLength=4194304",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/spark-warehouse"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graft.perfbench.Bench",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--results", results,
            "--commit", commit_id(root, digest)]
    if setup_only:
        cmd += ["--setup-only", "1"]
    for k, v in params.items():
        cmd += ["--param", f"{k}={v['value']}"]

    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            out = ""
            print(f"run timed out after {RUN_TIMEOUT_S}s; log: {log}",
                  file=sys.stderr)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out, results, log


def record_archive(root, spec, jar, digest, workload, archive):
    """Record the workload's class-data sharing archive in a throwaway
    JVM that runs set-up only (seed 0), so no measured run pays for the
    recording. Exits non-zero when the recording fails."""
    recording = archive + f".{os.getpid()}.tmp"
    code, out, _, log = run_jvm(
        root, spec, jar, digest, workload, 0, 1, 0,
        [f"-XX:ArchiveClassesAtExit={recording}"], f"{workload}-cds",
        setup_only=True)
    if code != 0 or not os.path.exists(recording):
        if os.path.exists(recording):
            os.remove(recording)
        sys.stdout.write(out)
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"recording the class-data sharing archive failed "
                 f"(exit {code}); log: {log}")
    os.replace(recording, archive)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if a.workload not in spec["workloads"]:
        sys.exit(f"unknown workload {a.workload}")
    jar, digest = build.build(root)

    # Class-data sharing: every measured run maps the classes its
    # workload's set-up loads from an archive instead of loading them
    # from 300 jars, which takes about a third off a run's start-up on a
    # 4-core host. The archive is recorded once per build and workload.
    cds_dir = os.path.join(root, build.BUILD_DIR, "cds")
    os.makedirs(cds_dir, exist_ok=True)
    archive = os.path.join(cds_dir, f"{a.workload}.jsa")
    if not os.path.exists(archive):
        record_archive(root, spec, jar, digest, a.workload, archive)
    cds = [f"-XX:SharedArchiveFile={archive}"]

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    code, out, results, log = run_jvm(root, spec, jar, digest, a.workload,
                                      a.seed, a.seconds, a.trace, cds, tag)
    lines = [line for line in out.splitlines() if line.startswith(("{", "# "))]
    if code != 0 or not lines:
        sys.stdout.write(out)
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(code or 1)
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    if a.trace == 1:
        with open(results) as fh:
            record = json.load(fh)
        record["wall_s"] = record["end_to_end"]["wall_s"]["value"]
        over = trace_overhead(os.path.dirname(results), a.workload, a.seed,
                              record)
        if over is not None:
            print("# trace_overhead " + json.dumps(over))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
