#!/usr/bin/env python3
"""Closed-loop benchmark of the program, one workload per invocation.

    python3 perfbench/run.py --workload refresh_ticks --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program's main
sources together with the harness (sbt, offline) into .bench_build/ and
records a class-data-sharing archive of a session's classes there; later
runs reuse both while the sources are unchanged. Each run gets a
fresh directory under .bench_build/runs/ for its warehouse, staging,
checkpoint, scratch and input files, removed on exit.

Prints a run stamp line, then as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1).

--record-fingerprints rewrites perfbench/star_fingerprints.json from the
current code's star_queries results instead of measuring.
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
sys.path.insert(0, str(HERE))

import stardata  # noqa: E402
import stats  # noqa: E402

BUILD = ROOT / ".bench_build"
FINGERPRINTS = HERE / "star_fingerprints.json"
CLASS_ARCHIVE = BUILD / "classes.jsa"
BUILD_LIMIT_S = 600
RUN_LIMIT_S = 170  # the whole run, build excluded, stays under this
ARCHIVE_LIMIT_S = 120
JVM_HEAP = "2g"
STAR_SF = 0.01
STAR_DATA_SEED = 42

# sizes and round counts are constants of each workload in Workloads.scala
WORKLOADS = ("refresh_ticks", "star_queries", "graph_fixpoints")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program and the harness when the sources changed,
    and records the class archive; returns the runtime classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = source_hash()
    if (stamp.exists() and cp_file.exists() and CLASS_ARCHIVE.exists()
            and stamp.read_text() == digest):
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    stamp.unlink(missing_ok=True)
    CLASS_ARCHIVE.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], log, BUILD_LIMIT_S, cwd=HERE, env=env)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if rc != 0 or not lines or "perfbench_2.13" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    classpath = lines[-1]
    # A session started once, and its loaded classes archived at exit
    run_dir = BUILD / "runs" / f"classes-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        argv = ["--workload", "classes", "--seed", "0", "--seconds", "0", "--trace", "0",
                "--work", str(run_dir), "--out", str(run_dir / "result.json")]
        rc = run_bounded(java_cmd(classpath, run_dir / "tmp", argv,
                                  f"-XX:ArchiveClassesAtExit={CLASS_ARCHIVE}"),
                         BUILD / "classes.log", ARCHIVE_LIMIT_S, cwd=ROOT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not CLASS_ARCHIVE.exists():
        fail(f"recording the class archive failed (exit {rc}); see {BUILD / 'classes.log'}")
    cp_file.write_text(classpath)
    stamp.write_text(digest)
    return classpath


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_bounded(cmd, log, limit_s, **kw):
    """Runs `cmd` in its own process group with its output in `log`. The
    group is killed when the command ends or overruns `limit_s`, so no
    process outlives the call. Returns the exit code, None on overrun."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return proc.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def java_cmd(classpath, tmp, argv, archive_flag):
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
             archive_flag]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main"] + argv)


def run_jvm(classpath, tmp, argv, log, deadline):
    cmd = java_cmd(classpath, tmp, argv, f"-XX:SharedArchiveFile={CLASS_ARCHIVE}")
    rc = run_bounded(cmd, log, deadline - time.time(), cwd=ROOT)
    if rc is None:
        fail("workload run exceeded its time limit")
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"program sources not found under {ROOT / 'src' / 'main' / 'scala'}; "
             "run from the root of a full checkout")
    classpath = build()
    record = a.record_fingerprints
    if record and a.workload != "star_queries":
        fail("--record-fingerprints applies to star_queries only")

    setup_start = time.time()
    deadline = setup_start + RUN_LIMIT_S
    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        result = run_dir / "result.json"
        argv = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", str(run_dir), "--out", str(result)]
        if a.workload == "star_queries":
            stardata.write(run_dir / "data", STAR_SF, STAR_DATA_SEED)
            argv += ["--data", str(run_dir / "data")]
            if record:
                argv += ["--record", "1"]
            elif FINGERPRINTS.exists():
                argv += ["--fingerprints", str(FINGERPRINTS)]
        rc = run_jvm(classpath, run_dir / "tmp", argv, run_dir / "jvm.log", deadline)
        if rc != 0 or not result.exists():
            tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-30:]
            print("\n".join(tail), file=sys.stderr)
            fail(f"workload run failed (exit {rc})")
        if record:
            fps = json.loads(result.read_text())["fingerprints"]
            FINGERPRINTS.write_text("{\n" + ",\n".join(
                f"  {json.dumps(n)}: {json.dumps(fps[n])}" for n in sorted(fps)) + "\n}\n")
            print(f"perfbench: wrote {FINGERPRINTS}", file=sys.stderr)
            return
        rec = json.loads(result.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = rec["ops"]
    # the same percentile in every run: the highest the minimum op count allows
    tail_p = stats.tail_percentile(rec["min_timed_ops"])
    failed = sum(1 for o in ops if o["error"] is not None)
    stamp = dict(rec["stamp"], workload=a.workload, seed=a.seed, trace=a.trace,
                 git_commit=git_commit(), source_hash=source_hash()[:16],
                 timed_ops=len(ops), latency_tail_percentile=tail_p,
                 info=rec["info"], setup_failures=rec["setup_failures"],
                 op_failures=[f"op {o['idx']} {o['kind']}: {o['error']}"
                              for o in ops if o["error"] is not None][:20])
    if a.trace:
        metrics = stats.with_units(stats.per_layer(rec, rec["stamp"]["cpus"]), stats.PER_LAYER)
    else:
        setup_s = rec["first_timed_ms"] / 1000.0 - setup_start
        metrics = stats.with_units(stats.end_to_end(rec, setup_s, tail_p), stats.END_TO_END)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": failed == 0 and not rec["setup_failures"],
                      "attempted": len(ops), "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
