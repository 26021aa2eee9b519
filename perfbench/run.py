#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--record]

Workloads: ops_sf01, wordcount_stream (see perfbench/README.md).
The first run in a checkout compiles the engine and generates the input data
under perfbench/.build and perfbench/.data; later runs reuse both. Every file
a run writes stays under perfbench/. `--record` rewrites the expected output
checks in perfbench/expected.json from this run instead of comparing.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, ".data")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("ops_sf01", "wordcount_stream")
# Facts of the measured data set, checked after generation.
EXPECTED_ROWS = {"documents": 5_000, "embeddings": 2_000}
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170


def ensure_data():
    """Generates the measured sf0.1 tables once per checkout; returns their
    directory and the generation time."""
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as fh:
        want = hashlib.sha256(fh.read()).hexdigest()
    stamp = os.path.join(DATA, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == want:
            return s["dir"], s["gen_s"]
    shutil.rmtree(DATA, ignore_errors=True)
    out = os.path.join(DATA, "sf0.1")
    t0 = time.perf_counter()
    subprocess.run([sys.executable, gen, out], check=True, stdout=sys.stderr)
    gen_s = time.perf_counter() - t0
    import pyarrow.parquet as pq
    for t, n in EXPECTED_ROWS.items():
        got = pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
        if got != n:
            raise SystemExit(f"data: {t} has {got} rows, expected {n}")
    with open(stamp, "w") as fh:
        json.dump({"digest": want, "dir": out, "gen_s": gen_s}, fh)
    return out, gen_s


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--record", action="store_true")
    a = p.parse_args()
    # SIGTERM unwinds like Ctrl-C, so no compiler or JVM is left running.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.ensure()
    data, gen_s = ensure_data()
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "tmproot"):
        os.makedirs(os.path.join(work, sub))
    cmd = ["java", *JAVA_OPENS, "-Xms4g", "-Xmx4g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dperfbench.tmproot={work}/tmproot",
           "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data, "--work", work,
           "--expected", os.path.join(HERE, "expected.json"),
           "--datagen-s", repr(gen_s)]
    if a.record:
        cmd.append("--record")
    log = os.path.join(OUT, f"{a.workload}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"{a.workload}: timed out after {RUN_TIMEOUT_S} s (log: {log})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
                shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    trace = os.path.join(work, "trace.json")
    if os.path.exists(trace):
        shutil.move(trace, os.path.join(OUT, f"trace-{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{a.workload}: exit {proc.returncode}, no result (log: {log})")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
