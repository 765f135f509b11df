"""The engine's benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (`perfbench/build.py`), generates the input tables once per scale
(`perfbench/gen.py`, cached under the build directory), runs the
workload in one JVM with a fresh temporary root for tables, checkpoints
and the warehouse, checks the outputs, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")  # the recorded correct outputs
WORKLOADS = ("batch_queries", "stream_events")
SCALE = 0.1
JVM_LIMIT_S = 165.0
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def ensure_data(scale):
    """Generated tables for `scale`, cached by the generator's own hash."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(build.build_dir(), "data", f"sf{scale}-{tag}")
    if not os.path.isdir(out):
        tmp = tempfile.mkdtemp(dir=_mkdirs(os.path.dirname(out)))
        gen.write(tmp, scale)
        os.rename(tmp, out)
    return out


def _mkdirs(d):
    os.makedirs(d, exist_ok=True)
    return d


def run_jvm(args, cp, data, tmp, rec):
    cmd = [build.java()]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={_mkdirs(os.path.join(tmp, 'jtmp'))}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dspark.local.dir={_mkdirs(os.path.join(tmp, 'local'))}",
            "-cp", cp, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), data, tmp, rec,
            ",".join(stats.QUERY_GROUPS)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    env.pop("SPARK_GRAFT_SESSION_CONF", None)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=env, cwd=tmp)
    timer = threading.Timer(JVM_LIMIT_S, proc.kill)
    timer.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    # reaped here, so Popen must not wait for it again
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile("src/main/scala/graft/SparkEntry.scala"):
        print("perfbench: the engine's sources are not here; run from the "
              "repository root", file=sys.stderr)
        return 2
    cp = build.build()
    data = ensure_data(SCALE)
    env = stats.environment()
    tmp_root = _mkdirs(os.path.join(build.build_dir(), "tmp"))
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    rec = os.path.join(tmp, "records.jsonl")
    try:
        code, rss_mb = run_jvm(args, cp, data, tmp, rec)
        records = stats.read_records(rec)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not any(r["kind"] == "done" for r in records):
        print(f"perfbench: workload JVM failed (exit {code})", file=sys.stderr)
        return 1
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    result = stats.summarize(args.workload, records, expected,
                             trace=bool(args.trace), env=env, rss_mb=rss_mb)
    for line in result.pop("notes"):
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
