#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <report_full|ingest_hudi|ingest_daily|mixed_rw>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the
benchmark with sbt (offline) into `.bench_build/`; later runs reuse the
build until a source or build file changes. Each run works in its own
directory under `.bench_build/` and deletes it at the end; a traced
run leaves its spans in `.bench_build/spans-<workload>-<seed>.jsonl`.
The last line of standard output is the run's JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
LAUNCH = BUILD / "launch.txt"
FINGERPRINT = BUILD / "fingerprint.txt"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("report_full", "ingest_hudi", "ingest_daily", "mixed_rw")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def call(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on a timeout or an interrupt
    kills the whole group and waits for it. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, stderr=sys.stderr, text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out or ""


def sources():
    """Every file the build reads from the repository."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(files):
    want = fingerprint(files)
    if LAUNCH.exists() and FINGERPRINT.exists() and FINGERPRINT.read_text() == want:
        return
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    # temp files stay in the checkout; sbt's own caches and locks do not
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building graft and the benchmark", file=sys.stderr)
    code, _ = call(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"], BUILD_TIMEOUT_S,
                   cwd=HERE, env=env, stdout=sys.stderr)
    if code != 0 or not LAUNCH.exists():
        fail(f"build failed (sbt exit {code})")
    shutil.rmtree(tmp, ignore_errors=True)
    FINGERPRINT.write_text(want)


def run(args):
    opts_line, cp = LAUNCH.read_text().splitlines()[:2]
    work = BUILD / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + opts_line.split("\x01") +
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work / "data"),
            "--spans", str(BUILD / f"spans-{args.workload}-{args.seed}.jsonl")])
    try:
        code, out = call(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if code != 0 or not lines:
        fail(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(lines[-1])


def main():
    # a terminated run raises, so `call` stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}: run from a full checkout of the repository")
    build(sources())
    run(args)


if __name__ == "__main__":
    main()
