#!/usr/bin/env python3
"""The graft benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload dashboard|pipeline|stream \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline), writes the batch inputs and caches the
DuckDB oracle results; all of it goes under `.bench_build/`. Each run then
launches one JVM (`graft.perfbench.Main`), checks every output it produced,
prints a table of the workload's metrics by name and unit, and ends with one
JSON line holding the end-to-end metrics (`--trace 0`) or the per-layer
metrics (`--trace 1`). The run's full record (environment, every iteration
time, per-query layer split, spans when traced) is written to
`.bench_build/runs/<run>/artifact.json`.

The exit code is 0 only when the run completed and every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import bench_lib as lib

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
HEAP = "3g"
# batch inputs at scale 0.01: the scale at which every DuckDB oracle runs
# in seconds, and at which a check pass plus a round of either batch
# workload fits one run
DATA_SF = {"dashboard": 0.01, "pipeline": 0.01}
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the harness with sbt unless the sources are unchanged."""
    srcs = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
            BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    missing = [str(p.relative_to(ROOT)) for p in srcs if not p.exists()]
    if missing:
        die(f"not a graft checkout (missing {', '.join(missing)}); run from its root")
    fp = fingerprint(srcs)
    cp_file, fp_file = BUILD / "classpath.txt", BUILD / "classpath.fp"
    if cp_file.exists() and fp_file.exists() and fp_file.read_text() == fp:
        return cp_file.read_text().strip(), fp
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
    (BUILD / "build.out").write_text(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not lines:
        die(f"build failed (exit {r.returncode}); see {BUILD / 'build.log'}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    fp_file.write_text(fp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, fp


def data_dir(sf):
    import gen
    tag = fingerprint([BENCH / "gen.py"])
    d = BUILD / "data" / f"sf{sf}-{tag}"
    if not (d / "_done").exists():
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(str(tmp), sf)
        (tmp / "_done").write_text("")
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return -1.0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def launch(cp, args, run_dir, deadline):
    java = shutil.which("java")
    if not java:
        die("java not found")
    (run_dir / "tmp").mkdir(parents=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", *map(str, args)]
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"JVM exceeded the run limit; see {run_dir / 'jvm.log'}")
    if code != 0:
        die(f"JVM exited with code {code}; see {run_dir / 'jvm.log'}")
    return json.loads((run_dir / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dashboard", "pipeline", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    cp, src_fp = build()
    # the first run in a checkout also makes every workload's inputs, so
    # later first runs of the other workloads stay within the run limit
    dirs = {w: data_dir(sf) for w, sf in DATA_SF.items()}
    if time.time() - t_start > 60:  # a build just happened: don't time this run
        deadline = time.time() + RUN_LIMIT_S
    ddir = dirs.get(a.workload, BUILD)

    run_dir = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    env = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
           "cpus": len(os.sched_getaffinity(0)), "heap": HEAP, "loadavg_start": loadavg(),
           "git_commit": git_commit(), "source_fingerprint": src_fp}
    t_launch = time.time()
    res = launch(cp, [a.workload, a.seed, a.seconds, a.trace, run_dir.resolve(),
                      Path(ddir).resolve(), env["cpus"]], run_dir, deadline)
    env["loadavg_end"] = loadavg()
    env.update(res["env"])
    setup_s = res["first_op_epoch_us"] / 1e6 - t_launch

    if a.workload == "stream":
        out = lib.stream_report(res, setup_s, a.trace)
    else:
        checks, near = lib.check_batch(res, run_dir / "check", Path(ddir), BUILD / "oracle")
        out = lib.batch_report(res, setup_s, a.trace, checks, near)
    env["cache"] = out.pop("cache")
    artifact = dict(out["artifact"], env=env, metrics=out["metrics"], result=res)
    if a.trace:
        spans = run_dir / "spans.json"
        artifact["spans"] = json.loads(spans.read_text()) if spans.exists() else []
    # outputs of a failed check stay for inspection
    for sub in ("warehouse", "local", "tmp") + (() if out["problems"] else ("check",)):
        shutil.rmtree(run_dir / sub, ignore_errors=True)
    for ck in run_dir.glob("checkpoint-*"):
        shutil.rmtree(ck, ignore_errors=True)
    (run_dir / "artifact.json").write_text(json.dumps(artifact, indent=1, default=str))

    lib.print_table(a.workload, out["artifact"])
    print(f"artifact: {(run_dir / 'artifact.json').relative_to(ROOT)}")
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
