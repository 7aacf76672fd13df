#!/usr/bin/env python3
"""graft benchmark: one command for every workload, timed or traced.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt, which depends on the graft build one level up)
with sbt in offline mode; later runs reuse the build while the sources
are unchanged. Each run starts one JVM (`local[nproc]`), runs the
workload in a fresh per-run directory, checks its outputs (against the
DuckDB oracle for analyst_batch), deletes the run directory, and prints
two JSON lines: a detail line with the workload's own named figures and
the run stamp, then the result line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1`
they are its per-layer metrics.

Environment: GRAFT_TESTDATA (default ~/testdata) holds the sf dirs;
CARGO_TARGET_DIR (default .bench_build) holds build and run state.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "sf0.01"
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
WORKLOADS = ["live_indicators", "latest_lake", "analyst_batch"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench")


def source_stamp() -> str:
    """Hash of every file the harness build depends on."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project"), HERE]
    for top in tops:
        for dirpath, dirnames, files in os.walk(top):
            nested = os.path.basename(dirpath) == "project"
            dirnames[:] = sorted(d for d in dirnames
                                 if d not in ("target", ".bsp") and not (nested and d == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(dirpath, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
        if os.path.isfile(top):
            with open(top, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env() -> dict:
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.override.build.repos=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += " -Dsbt.offline=true"
    return env


def ensure_built(bdir: str, testdata: str) -> str:
    """Build the harness if its sources changed; return the classpath."""
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(bdir, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out, text=True, timeout=850)
        out.write(r.stdout)
    lines = [x for x in r.stdout.splitlines() if x.strip() and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = ":".join(as_jar(e, bdir) for e in lines[-1].strip().split(":"))
    archive_classes(cp, bdir, testdata)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def as_jar(entry: str, bdir: str) -> str:
    """Class-data sharing needs jars: zip a class directory into one."""
    if not os.path.isdir(entry):
        return entry
    name = hashlib.sha256(entry.encode()).hexdigest()[:12]
    jar = os.path.join(bdir, "jars", f"{name}.jar")
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    with zipfile.ZipFile(jar, "w") as z:
        for dirpath, _, files in os.walk(entry):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                z.write(p, os.path.relpath(p, entry))
    return jar


def archive_classes(cp: str, bdir: str, testdata: str) -> None:
    """Record the classes a session loads into a class-data-sharing
    archive, so each run's JVM starts from it instead of from the jars
    (runs work without it, only slower to start), and fill the oracle
    cache for the analyst workload's outputs."""
    archive = os.path.join(bdir, "classes.jsa")
    work = os.path.join(bdir, "runs", "class-list")
    sql_file = os.path.join(work, "oracle_sql.json")
    if os.path.exists(archive):
        os.remove(archive)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(work, d))
    cmd = java_cmd(cp, work, ["--class-list-run", os.path.join(work, "work"), testdata, sql_file], archive=None)
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={archive}")
    try:
        with open(os.path.join(bdir, "class-list.log"), "w") as log:
            subprocess.run(cmd, cwd=work, stdout=log, stderr=log, timeout=300)
        if os.path.exists(sql_file):
            import oracle
            with open(sql_file) as f:
                sql = json.load(f)
            try:
                oracle.warm(testdata, sql, testdata_stamp(testdata), os.path.join(bdir, "oracle"))
            except Exception as e:  # noqa: BLE001 - the run's own check reports the failing SQL
                print(f"perfbench: oracle warm-up failed: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def testdata_stamp(testdata: str) -> str:
    """Bytes, file count and newest mtime of the testdata directory."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(testdata) for f in fs]
    mtime = max((int(os.path.getmtime(f) * 1000) for f in files), default=0)
    return f"bytes={sum(os.path.getsize(f) for f in files)} files={len(files)} mtime={mtime}"


def java_cmd(cp: str, run_dir: str, args: list, archive: str = "") -> list:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    if archive == "":
        archive = os.path.join(build_dir(), "classes.jsa")
    share = [f"-XX:SharedArchiveFile={archive}"] if archive and os.path.exists(archive) else []
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    props = {
        "java.io.tmpdir": os.path.join(run_dir, "tmp"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "graft.fixtures.dir": os.path.join(ROOT, "fixtures"),
    }
    return ([java, "-Xmx3g", "-XX:+UseG1GC"] + share + opens + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", cp, "graftbench.Main"] + args)


def load_units() -> tuple:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def self_test() -> int:
    return subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                          cwd=HERE, env=sbt_env()).returncode


def main() -> int:
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if a.self_test:
        return self_test()
    if not a.workload:
        fail("--workload is required")
    e2e_units, layer_units = load_units()
    testdata = os.path.join(os.environ.get("GRAFT_TESTDATA") or os.path.expanduser(os.path.join("~", "testdata")), SF)
    if not os.path.isdir(testdata):
        fail(f"testdata not found at {testdata} (set GRAFT_TESTDATA)")

    bdir = build_dir()
    cp = ensure_built(bdir, testdata)
    # settle the file system first: earlier writes and deletes (the disk
    # may discard freed blocks) should not land inside this run's timing
    os.sync()
    load_start = os.getloadavg()
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, d))
    result_file = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(run_dir, "work"), "--sf", testdata,
            "--result", result_file,
            "--spans", os.path.join(bdir, "traces", f"spans-{a.workload}-{a.seed}.jsonl")]
    try:
        with open(os.path.join(bdir, f"last-{a.workload}.log"), "w") as log:
            proc = subprocess.Popen(java_cmd(cp, run_dir, args), cwd=run_dir, stdout=log, stderr=log)
            try:
                proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if not os.path.exists(result_file):
            fail(f"{a.workload} exited {proc.returncode} without a result, see {log.name}")
        with open(result_file) as f:
            res = json.load(f)
        # scratch left in the run's temp dir after the JVM has exited
        leaked_tmp = len(os.listdir(os.path.join(run_dir, "tmp")))
        res["detail"]["leak.tmp_entries"] = leaked_tmp
        if a.trace:
            res["layers"]["leak.tmp_entries"] = leaked_tmp
        checks = res["checks"]
        oracle_results = []
        if res["oracle"]:
            import oracle  # pandas and duckdb load only for runs with oracle checks
            oracle_results = oracle.check_all(testdata, res["oracle"], testdata_stamp(testdata),
                                              os.path.join(bdir, "oracle"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        os.sync()

    failed = res["failed"] + sum(1 for r in oracle_results if not r["ok"])
    correct = (proc.returncode == 0 and res["invalid"] is None
               and all(c["ok"] for c in checks) and all(r["ok"] for r in oracle_results))
    stamp = dict(res["stamp"], load_start=load_start, load_end=os.getloadavg(),
                 testdata=testdata_stamp(testdata))
    # a figure the run could not measure (no samples) reads as null
    if a.trace:
        values, units = res["layers"], layer_units
    else:
        values, units = dict(res["e2e"], setup_s=res["setup_s"]), e2e_units
        correct = correct and all(values.get(n) is not None for n in units)
    metrics = {n: {"value": float(values.get(n) or 0.0), "unit": u} for n, u in units.items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, "invalid": res["invalid"],
                      "detail": res["detail"], "checks": checks + oracle_results, "stamp": stamp},
                     sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"] + len(oracle_results),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
