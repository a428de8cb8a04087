#!/usr/bin/env python3
"""Run one lakebench workload and print its metrics.

    python3 lakebench/run.py --workload lake_read --seed 1 --seconds 30 --trace 0

Builds the engine and the harness from source with sbt (once per source
state), generates the input tables with the engine's own deterministic
generator (once), then runs the workload in one JVM. Every gate output is
checked against the digests in lakebench/digests.tsv. Everything the run
writes stays under .bench_build/ in the checkout.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics, or with --trace 1 the per-layer ones).
The lines before it print every metric with its unit, quartiles and sample
count, the stamp and every failure by name. The full result is saved under
.bench_build/results/ for lakebench/compare.py.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DIGESTS = HERE / "digests.tsv"
HEAP = "4g"
YOUNG = "1g"
# A run must end within 180 s, the first in a checkout (which builds and
# generates the inputs) within 900 s; leave the launcher room to clean up.
HARNESS_LIMIT_S = 165
BUILD_LIMIT_S = 480
GENERATE_LIMIT_S = 200
# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Files whose content decides the build."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def digest_files(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def run_logged(cmd, log, timeout, **kw):
    """Run cmd to completion with its output in `log`; kill its process
    group if it outlives `timeout`."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} did not finish in {timeout:.0f} s; see {log}")
        finally:
            for s, h in previous.items():
                signal.signal(s, h)


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"no engine sources under {ROOT / 'src'}; run from a full checkout")
    stamp = digest_files(sources())
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "build.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Xmx2g -Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if repos.is_file() else ""))
    log = BUILD / "logs" / "build.log"
    t0 = time.time()
    tmp = BUILD / "tmp" / "sbt"
    tmp.mkdir(parents=True, exist_ok=True)
    rc = run_logged(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                     f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
                     "compile", "export Runtime/fullClasspath"],
                    log, BUILD_LIMIT_S, cwd=HERE, env=env)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = log.read_text().strip().splitlines()
    if rc != 0 or not lines or "lakebench" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    print(f"lakebench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1], stamp


def java(cp, main, args, log, timeout, tmp):
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed heap with a fixed young generation and the throughput
    # collector: G1's concurrent marking and adaptive sizing made warm
    # passes of identical code differ by up to a third between runs.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           f"-Dderby.system.home={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    try:
        return run_logged(cmd, log, timeout, cwd=tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def data(cp):
    """The input tables, generated once by the engine's generator at the
    sf0.1 cardinalities; keyed by the generator's source."""
    gen = ROOT / "src" / "main" / "scala" / "graft" / "tools" / "GenSf.scala"
    out = BUILD / "data" / digest_files([gen])[:16]
    if (out / "_COMPLETE").is_file():
        return out
    shutil.rmtree(out, ignore_errors=True)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    log = BUILD / "logs" / "gendata.log"
    rc = java(cp, "graft.tools.GenSf", [str(out), "1"], log, GENERATE_LIMIT_S,
              BUILD / "tmp" / f"gen-{os.getpid()}")
    if rc != 0:
        fail(f"input generation failed (exit {rc}); see {log}")
    (out / "_COMPLETE").write_text("")
    return out


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_workload(workload, seed, seconds, trace, expect, extra=()):
    """Build, generate inputs, run the harness; return the result document."""
    cp, source_sha = build()
    data_dir = data(cp)
    tag = f"{workload}-seed{seed}-trace{trace}-{int(time.time() * 1000)}"
    out = BUILD / "results" / f"{tag}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    log = BUILD / "logs" / f"{tag}.log"
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", str(data_dir), "--expect", expect,
            "--out", str(out), *extra]
    limit = HARNESS_LIMIT_S if expect != "none" else 1800
    rc = java(cp, "lakebench.LakeBench", args, log, limit,
              BUILD / "tmp" / f"run-{os.getpid()}")
    if rc != 0 or not out.is_file():
        tail = "".join(log.read_text().splitlines(keepends=True)[-20:])
        fail(f"harness exited {rc}; see {log}\n{tail}")
    res = json.loads(out.read_text())
    res["stamp"].update(heap=HEAP, git_head=git_head(), source_sha=source_sha[:16])
    out.write_text(json.dumps(res, indent=1))
    res["file"] = str(out)
    return res


def show(res, key):
    st = res["stamp"]
    print("stamp: " + " ".join(f"{k}={st[k]}" for k in (
        "workload", "seed", "cpus", "heap", "spark_version", "git_head", "source_sha")))
    print(f"passes={res['passes']} gate_runs={res['attempted']} failed={res['failed']} "
          f"result={res['file']}")
    print(f"{'metric':34} {'median':>14} {'unit':6} {'q1':>14} {'q3':>14} {'n':>3}")
    for name, m in res[key].items():
        print(f"{name:34} {m['value']:14.4f} {m['unit']:6} {m['q1']:14.4f} {m['q3']:14.4f} {m['n']:3d}")
    if key == "per_layer":
        print(f"{'gate':28} {'wall_s':>8} {'driver_gap_s':>13}")
        for g, v in res["gates"].items():
            gap = v["driver_gap_s"]
            print(f"{g:28} {v['wall_s']:8.3f} {gap if gap is not None else float('nan'):13.3f}")
    left = {g: v["rdds_left"] for g, v in res["gates"].items() if v["rdds_left"]}
    print("rdds left persisted at gate end: " + (json.dumps(left) if left else "none"))
    streams = {g: v["streams_left"] for g, v in res["gates"].items() if v["streams_left"]}
    print("streams active at gate end: " + (json.dumps(streams) if streams else "none"))
    for f in res["failures"]:
        print(f"FAILED {f['gate']} pass {f['pass']}: {f['why']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["lake_read", "lake_write", "iterative"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not DIGESTS.is_file():
        fail(f"{DIGESTS} is missing; record it with lakebench/record.py")
    res = run_workload(a.workload, a.seed, a.seconds, a.trace, str(DIGESTS))
    key = "per_layer" if a.trace else "end_to_end"
    show(res, key)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in res[key].items()},
    }))


if __name__ == "__main__":
    main()
