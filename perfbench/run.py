"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload daemon_ingest --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark from source on first use (see
`build.py`), then runs `graft.perfbench.Main` in one JVM with the frozen
workload parameters from `workloads.json`. The full record and the span
trace are written under `.bench_build/perfbench/out/`; the last stdout line
is the compact result JSON (`correct`, `attempted`, `failed`, `metrics`).
Exits non-zero, printing no result, if the build, the run or the result
line fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
OUT = os.path.join(build.BUILD, "out")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    n = os.environ.get("SPARK_GRAFT_CPUS")
    return int(n) if n else os.cpu_count()


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def java_cmd(classpath, workload, seed, seconds, trace, params, tmp):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--out", OUT]
    for k, v in sorted(params.items()):
        cmd += ["--param", f"{k}={v}"]
    return cmd


def run(workload, seed, seconds, trace, extra=None):
    """Run one workload; return (result dict or None, exit code)."""
    specs = load_workloads()
    if workload not in specs:
        print(f"perfbench: unknown workload {workload}", file=sys.stderr)
        return None, 2
    classpath = build.build()
    params = {k: v for k, v in specs[workload]["params"].items()}
    params["cpus"] = cpus()
    if workload == "operator_suite":
        params["fixture"] = os.path.join(HERE, specs[workload]["fixture"])
        params["golden"] = os.path.join(HERE, specs[workload]["golden"])
    params.update(extra or {})
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(build.BUILD, "tmp", f"{workload}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.stderr.log")
    cmd = java_cmd(classpath, workload, seed, seconds, trace, params, tmp)
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                print(f"perfbench: {workload} timed out after {JVM_TIMEOUT_S} s; log {log}",
                      file=sys.stderr)
                return None, 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: {workload} failed (exit {p.returncode}); log {log}", file=sys.stderr)
        return None, 1
    summarize(os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json"))
    return result, 0


def summarize(record):
    """Print the record's workload-named figures, with units, to stderr."""
    with open(record) as f:
        rec = json.load(f)
    print(f"perfbench: {rec['workload']} seed {rec['seed']}: correct={rec['correct']} "
          f"failed={rec['failed']}/{rec['attempted']}; record {record}", file=sys.stderr)
    for name, m in rec["named"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-golden", metavar="PATH",
                    help="operator_suite: also write the observed row counts and "
                         "content hashes to PATH (to refresh golden/operator_suite.json)")
    a = ap.parse_args()
    extra = {"golden_out": os.path.abspath(a.write_golden)} if a.write_golden else None
    result, code = run(a.workload, a.seed, a.seconds, a.trace, extra)
    if result is not None:
        print(json.dumps(result, separators=(",", ":")))
    sys.exit(code)


if __name__ == "__main__":
    main()
