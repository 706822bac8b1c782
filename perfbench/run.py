#!/usr/bin/env python3
"""Runs one benchmark workload and prints its figures as one JSON line.

    python3 perfbench/run.py --workload extract_uniform --seed 1 --seconds 8 --trace 0

Run it from the repository root. The first run builds the program and the
benchmark with sbt (offline) into the repository's `target/` directories;
later runs reuse that build while the sources are unchanged. Everything a
run writes goes under `.bench_build/` and is removed again, except the
result artifacts in `.bench_build/results/`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def meminfo_mb():
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) // 1024
    return out


def heap_mb(mem_total_mb):
    """A quarter of the box's memory, kept between 2 and 6 GB."""
    return max(2048, min(6144, mem_total_mb // 4))


def source_files():
    """Every file the build reads from the repository."""
    files = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src/main"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            files.append(p)
        for d, dirs, names in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx1536m"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(sha):
    """Compiles program and benchmark; returns the runtime classpath and
    the root build's JVM options, minus its heap size."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["sha"] == sha:
            return got["classpath"], got["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "show javaOptions",
           "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        rc, _ = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=out,
                          stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        die(f"build failed (rc {rc}); see {log}", 1)
    cp = lines[-1]
    if "perfbench" not in cp or "[" in cp:
        die(f"build printed no classpath; see {log}", 1)
    opts = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    opts = [o for o in opts if not o.startswith("-Xmx")]
    if "--add-opens" not in opts:
        die(f"build printed no JVM options; see {log}", 1)
    with open(stamp, "w") as f:
        json.dump({"sha": sha, "classpath": cp, "java_options": opts}, f)
    return cp, opts


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it to end. The
    group is killed on timeout, on error, and when this process is told to
    stop. Returns the exit code (None on timeout) and the captured stdout.
    """
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def select_metrics(raw, bench, workload, trace):
    """The figures BENCHMARK.json declares for this mode, with units, and
    the names that are missing or not positive."""
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    got = raw.get("metrics", {})
    metrics, missing = {}, []
    for m in wanted:
        name = m["name"]
        if name in got:
            value = got[name]
        elif trace and (name.startswith("queries.") != workload.startswith("queries")):
            value = 0.0  # the layer is not on this workload's path
        else:
            missing.append(name)
            continue
        if not isinstance(value, (int, float)) or (not trace and not value > 0):
            missing.append(f"{name}={value}")
            continue
        metrics[name] = {"value": value, "unit": m["unit"]}
    return metrics, missing


def main():
    # stop like on Ctrl-C, so the child process groups are killed and the
    # work directory is removed
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record-expected", help="write the query answers of this build here")
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        die("BENCHMARK.json not found at the repository root")
    with open(bench_file) as f:
        bench = json.load(f)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        die(f"unknown workload {args.workload}")
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} missing: run from the root of a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    nproc = len(os.sched_getaffinity(0))
    mem = meminfo_mb()
    heap = heap_mb(mem["MemTotal"])
    if nproc < 4:
        die(f"needs at least 4 cores for the 1-vs-4 legs; this box has {nproc}")
    if mem.get("MemAvailable", 0) < heap + 1024:
        die(f"needs {heap + 1024} MB available for a {heap} MB heap; "
            f"{mem.get('MemAvailable', 0)} MB available of {mem['MemTotal']} MB")

    sha = source_sha()
    t = time.time()
    cp, java_options = build(sha)
    build_s = time.time() - t

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    logs = os.path.join(BUILD, "logs")
    for d in (work, os.path.join(work, "tmp"), results, logs):
        os.makedirs(d, exist_ok=True)
    artifact = os.path.join(results, tag + ".json")
    cmd = (["java", f"-Xmx{heap}m", f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC"]
           + java_options
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work-dir", work, "--data-dir", os.path.join(HERE, "data", "sf0.001"),
              "--expected", os.path.join(HERE, "expected", "queries_sf0.001.tsv"),
              "--artifact", artifact])
    if args.record_expected:
        cmd += ["--record-expected", os.path.abspath(args.record_expected)]
    err_log = os.path.join(logs, tag + ".err")
    try:
        with open(err_log, "w") as err:
            rc, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=err)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        die(f"run exceeded {RUN_TIMEOUT_S} s; see {err_log}", 1)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        die(f"benchmark exited with {rc}; see {err_log}", 1)
    if args.record_expected:
        return
    raw = json.loads(lines[-1])
    metrics, missing = select_metrics(raw, bench, args.workload, args.trace == 1)
    info = dict(raw.get("info", {}), source_sha=sha, git_commit=git_commit(),
                build_s=round(build_s, 3), artifact=os.path.relpath(artifact, ROOT))
    print(json.dumps({"perfbench_info": info}, sort_keys=True))
    print(json.dumps({"correct": bool(raw["correct"]) and not missing,
                      "attempted": int(raw["attempted"]), "failed": int(raw["failed"]),
                      "metrics": metrics}))
    if missing:
        die(f"metrics missing or not positive: {', '.join(missing)}", 1)


if __name__ == "__main__":
    main()
