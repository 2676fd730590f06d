#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness with sbt
(once per source state), runs one workload in one fresh JVM, checks every
query's result against its golden digest, and prints one JSON object as the
last line of standard output. With `--trace 0` it reports the end-to-end
metrics, with `--trace 1` the per-layer ones. The line before it is the full
report: every metric, the sample counts and the environment stamp. Exits 0
only when every query ran and every result matched its golden.

See perfbench/README.md for the workloads and the metrics.
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

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
HARNESS = HERE / "harness"
# Fixture tables (TESTDATA.md): read-only parquet, one directory per scale.
DATA = Path(os.environ.get("PERFBENCH_DATA", Path.home() / "testdata"))
HEAP = "3g"
JVM_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of the sources the build reads: paths, sizes and mtimes."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src", HARNESS]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles engine and harness unless this source state is built.
    Returns the classpath and JVM options from the harness build, and the
    source digest."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src").is_dir():
        fail(f"no engine sources at {ROOT} (run from the root of a checkout)")
    OUT.mkdir(parents=True, exist_ok=True)
    stamp, launch = OUT / "build.stamp", HARNESS / "target" / "launch.txt"
    digest = source_digest()
    if not (launch.is_file() and stamp.is_file() and stamp.read_text() == digest):
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        with open(OUT / "build.log", "w") as log:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false", "launchFile"],
                    cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=850).returncode
            except (OSError, subprocess.TimeoutExpired) as e:
                fail(f"build did not run: {e}")
        if rc != 0 or not launch.is_file():
            tail = (OUT / "build.log").read_text().splitlines()[-20:]
            fail("build failed:\n" + "\n".join(tail))
        stamp.write_text(digest)
    lines = launch.read_text().splitlines()
    return lines[0], lines[1:], digest


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_harness(wl, args, cores, classpath, jvm_opts):
    sf_dir = DATA / wl["sf"]
    if not any(sf_dir.glob("*.parquet")):
        fail(f"no fixture tables under {sf_dir} (set PERFBENCH_DATA)")
    work = OUT / "work" / args.workload
    # every run starts from the same on-disk state: the engine's write
    # queries leave their tables under the working directory
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "check"):
        (work / d).mkdir(parents=True)
    result = work / "harness.json"
    cmd = ["java", f"-Xmx{HEAP}", *jvm_opts,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-cp", classpath, "perfbench.Harness",
           "--workload", args.workload, "--queries", ",".join(wl["queries"]),
           "--sf-dir", str(sf_dir), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--warmup", str(wl["warmup"]),
           # a traced run alternates traced and untraced passes in fours
           "--min-warm", str(max(wl["min_warm"], 4) if args.trace else wl["min_warm"]),
           "--trace", str(args.trace), "--cores", str(cores),
           "--check-dir", str(work / "check"), "--out", str(result)]
    with open(work / "jvm.log", "w") as log:
        launch_ms = time.time() * 1000
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness did not finish in {JVM_TIMEOUT_S} s; log: {work / 'jvm.log'}", 3)
    if rc != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        fail(f"harness exited {rc}:\n" + "\n".join(tail), 3)
    return json.loads(result.read_text()), launch_ms, work


def check_outputs(wl, work):
    """Digest of each query's untimed result against its golden. Returns
    {query: None if it matches, else the reason}."""
    import duckdb
    goldens = json.loads((HERE / "goldens.json").read_text())[wl["sf"]]
    con = duckdb.connect()
    verdict = {}
    for q in wl["queries"]:
        path = work / "check" / q
        if not any(path.glob("*.parquet")):
            verdict[q] = "no result written"
            continue
        df = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
        got, rows = benchlib.digest(list(df.columns), list(zip(*(df[c].tolist() for c in df.columns))))
        want = goldens.get(q)
        if want is None:
            verdict[q] = "no golden"
        elif got != want["digest"]:
            verdict[q] = f"digest mismatch: {rows} rows, golden has {want['rows']}"
        else:
            verdict[q] = None
    con.close()
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    classpath, jvm_opts, digest = build()
    raw, launch_ms, work = run_harness(wl, args, cores, classpath, jvm_opts)
    verdict = check_outputs(wl, work)
    for q, why in verdict.items():
        if why:
            print(f"[perfbench] output check failed for {q}: {why}", file=sys.stderr)
    bad = {q for q, why in verdict.items() if why}

    report = benchlib.summarize(raw["spans"], raw["env"], launch_ms, wl, bad)
    env = raw["env"]
    report["env"] = {
        "nproc": cores, "master": env["master"],
        "load1_start": env["load1_start"], "load1_end": env["load1_end"],
        "git_commit": git_commit(), "source_digest": digest,
        "spark": env["spark_version"], "jvm": env["jvm"],
        "sf_dir": env["sf_dir"], "seed": args.seed, "workload": args.workload,
        "seconds": args.seconds, "trace": args.trace,
    }
    report["output_check"] = {q: why or "ok" for q, why in verdict.items()}
    (OUT / "results").mkdir(parents=True, exist_ok=True)
    (OUT / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(report, indent=1))
    print(json.dumps(report))

    names = benchlib.END_TO_END if args.trace == 0 else benchlib.PER_LAYER
    metrics = {n: {"value": report["metrics"][n], "unit": u} for n, u in names.items()}
    ok = report["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
