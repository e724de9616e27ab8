"""Benchmark command: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload monthly_batch --seed 1 \
        --seconds 5 --trace 0

Builds the program from source (first run only), generates the seed's
inputs, runs the workload in one JVM (Spark local[k], one closed-loop
client), checks the outputs and prints every metric; the last line of
standard output is the JSON result. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("monthly_batch", "curation", "reporting_mix")
CORES = min(4, os.cpu_count() or 1)
DEADLINE_S = 170.0
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cds_flags(archive):
    """Class-data sharing for the program's and Spark's classes: the first
    run after a build dumps the classes it loaded into `archive` as it
    exits; later runs map them instead of loading and verifying each one.
    It shortens JVM start and the warm-up's class loading, and leaves the
    compiled code and so the timed iterations alone."""
    quiet = "-Xlog:cds*=error,class+path=error"
    if os.path.exists(archive):
        return [quiet, "-XX:SharedArchiveFile=" + archive]
    return [quiet, f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}"]


def oracle_failures(verify_dir, data_dir, timeout):
    """Keys whose warm-up output fails the repository's correctness gate
    (`tools/check.py`: the DuckDB oracle over the same inputs), with the
    gate's message for each."""
    r = subprocess.run([sys.executable,
                        os.path.join(build.ROOT, "tools", "check.py"),
                        verify_dir, data_dir],
                       capture_output=True, text=True, timeout=timeout)
    bad = {}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            key, _, msg = line[4:].strip().partition(": ")
            bad[key] = msg[:200]
    if r.returncode != 0 and not bad:
        bad["tools/check.py"] = (r.stderr.strip().splitlines() or
                                 [f"exit {r.returncode}"])[-1][:200]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    jar = build.ensure()
    root = build.ROOT
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.write(data, a.seed, a.workload)
    record = os.path.join(work, "record.json")
    archive = os.path.join(os.path.dirname(jar), "classes.jsa")
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([jar] + build.spark_jars())
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + cds_flags(archive)
           + ["-Xmx3g", "-XX:TieredStopAtLevel=1",
              "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.stream.error.file={work}/derby.log",
              "-Dlog4j2.configurationFile="
              + os.path.join(HERE, "log4j2.properties"),
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--record", record,
              "--cores", str(CORES)])
    env = dict(os.environ, SPARK_GRAFT_CACHE_DIR=os.path.join(work, "cache"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10.0, DEADLINE_S
                                   - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    if rc == 0 and os.path.exists(f"{archive}.{os.getpid()}"):
        os.replace(f"{archive}.{os.getpid()}", archive)
    if rc != 0 or not os.path.exists(record):
        print(f"benchmark JVM ended with {rc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    with open(record) as f:
        rec = json.load(f)

    checks = list(rec["checks"])
    bad_keys = {}
    if a.workload == "reporting_mix":
        bad_keys = oracle_failures(
            os.path.join(work, "verify"), data,
            max(5.0, DEADLINE_S - (time.monotonic() - started)))
        checks.append({"name": "reporting.oracle", "ok": not bad_keys,
                       "detail": "; ".join(f"{k}: {v}" for k, v in
                                           sorted(bad_keys.items()))})
    correct, attempted, failed = metrics.verdict(rec, checks, bad_keys)
    if a.trace:
        names, vals = metrics.PER_LAYER, metrics.per_layer(rec)
    else:
        names = metrics.END_TO_END
        vals = metrics.end_to_end(rec, bad_keys)[0]
    correct = correct and all(math.isfinite(vals[k]) for k in names)
    vals = {k: (v if math.isfinite(v) else 0.0) for k, v in vals.items()}

    keep = os.path.join(root, ".bench_work", "records")
    os.makedirs(keep, exist_ok=True)
    rec["result_checks"] = checks
    with open(os.path.join(keep, f"{a.workload}-seed{a.seed}-trace{a.trace}"
                           f"-{int(time.time())}.json"), "w") as f:
        json.dump(rec, f)
    shutil.rmtree(work, ignore_errors=True)

    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}")
    its = [it for it in rec["iterations"] if not it["traced"]]
    print(f"{a.workload} seed={a.seed} cores={CORES} clients=1 "
          f"iterations={len(its)} "
          f"operations={len(metrics.query_samples(rec))} "
          f"attempted={attempted} failed={failed}")
    if a.trace:
        for n, k, d, s in metrics.span_table(rec):
            print(f"span {n:<20} n={k:<4} median={d:.4f}s self={s:.4f}s")
    for k, unit in names.items():
        print(f"metric {k} = {vals[k]:.6g} {unit}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": vals[k], "unit": u}
                                  for k, u in names.items()}}))


if __name__ == "__main__":
    main()
