#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (into target/ and perfbench/target/;
later runs reuse the build while the sources are unchanged), generates the
workload's inputs from the seed, runs the driver JVM on local[N] (N = at
most 4, never more than the cores of the host), checks the outputs and
prints one JSON line: the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1). A full record of the run goes to
.bench_build/reports/. See perfbench/README.md.
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
STATE = os.path.join(ROOT, ".bench_build")
BUDGET_S = 170  # the whole run, build excluded

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(stamp):
    """Compile the engine and the driver, unless a build of these sources
    (`stamp`) exists; returns the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file, cp_file = os.path.join(STATE, "stamp"), os.path.join(STATE, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and benchmark driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=800)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (see {os.path.join(STATE, 'build.log')})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def cores(spark_params):
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(spark_params["max_cores"], n))


def run_jvm(cp, mem, jvm_args, work, deadline):
    """Run the driver JVM to its end; it never outlives this process."""
    # a fixed heap: with a growing one, peak RSS follows the timing of G1's
    # expansions more than the workload's needs
    java = ["java", "-XX:+UseG1GC", f"-Xms{mem}", f"-Xmx{mem}",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    p = subprocess.Popen(java + ["-cp", cp, "perfbench.Main"] + jvm_args, cwd=work,
                         stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        return p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("the driver JVM ran past the time budget and was stopped", 3)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def oracle_check(rec, data, corrupt):
    """The prepare stage over the oracle slice equals DuckDB running the
    registry's reference SQL for q_ns_prepare_corpus."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{data}/oracle_docs.parquet')")
    want = [list(r) for r in con.execute(rec["notes"]["prepare_oracle_sql"]).fetchall()]
    con.close()
    if corrupt:
        want = want[1:] + [[-1, 0, 0]]
    return rec["notes"]["prepare_rows"] == want


def digest_check(workload, seed, params, stamp, digest, corrupt):
    """Output digest equals the one a previous run of the same build and
    inputs (workload, seed, parameters, generator) recorded in this
    checkout; the first such run records it."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()
    key = hashlib.sha256(json.dumps([workload, seed, params, generator, stamp],
                                    sort_keys=True).encode())
    path = os.path.join(STATE, "digests", key.hexdigest()[:32])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(digest)
    with open(path) as f:
        want = f.read()
    return digest == ("corrupted" + want if corrupt else want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt every check's expected value")
    args = ap.parse_args()
    start = time.time()
    # a stop request unwinds through the finally blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT} (build.sbt, src/main/scala/graft): "
             "run from the root of a full checkout")
    spec = benchmark_spec()
    params = gen.load_params()
    names = sorted(gen.GENERATORS)
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; one of {names}")
    stamp = source_stamp()
    cp = build(stamp)
    # the fixture goldens depend on the build only: checked once per build
    goldens_ok = os.path.join(STATE, "goldens-passed-" + stamp[:32])

    deadline = time.time() + BUDGET_S
    work = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t_gen = time.time()
        sizes = gen.generate(args.workload, args.seed, data)
        gen_s = time.time() - t_gen
        wp = params[args.workload]
        ncores = cores(params["spark"])
        run_params = dict(params["spark"], **wp["gen"], **wp["run"])
        out = os.path.join(work, "record.json")
        check_goldens = args.corrupt or not os.path.exists(goldens_ok)
        jvm_args = ["--workload", args.workload, "--seconds", str(args.seconds),
                    "--trace", str(args.trace), "--cores", str(ncores),
                    "--params", json.dumps(dict(run_params, check_goldens=check_goldens)),
                    "--data", data,
                    "--work", work, "--out", out,
                    "--fixtures", os.path.join(ROOT, "src", "test", "resources"),
                    "--corrupt", "1" if args.corrupt else "0"]
        t_jvm = time.time()
        code = run_jvm(cp, params["spark"]["driver_mem"], jvm_args, work, deadline)
        jvm_s = time.time() - t_jvm
        if code != 0 or not os.path.exists(out):
            fail(f"the driver JVM exited with code {code}", 3)
        with open(out) as f:
            rec = json.load(f)
        checks = dict(rec["checks"])
        if args.workload == "corpus_pipeline" and rec["failed"] == 0:
            checks["prepare_matches_duckdb"] = oracle_check(rec, data, args.corrupt)
            checks["shards_match_earlier_runs"] = digest_check(
                args.workload, args.seed, run_params, stamp, rec["notes"]["shard_digest"],
                args.corrupt)
        if args.workload == "ufc_dashboard" and not check_goldens:
            checks["fixture_goldens"] = True  # passed earlier on this build
        if checks.get("fixture_goldens") and not args.corrupt:
            open(goldens_ok, "w").close()
        if args.workload == "ufc_dashboard" and rec["failed"] == 0:
            checks["refresh_matches_earlier_runs"] = digest_check(
                args.workload, args.seed, run_params, stamp, rec["notes"]["refresh_digest"],
                args.corrupt)
        correct = bool(rec["correct"]) and all(checks.values())
        for k, ok in checks.items():
            if not ok:
                log(f"check failed: {k}")

        section = "per_layer" if args.trace else "end_to_end"
        values = metrics.per_layer(rec) if args.trace else metrics.end_to_end(rec)
        result = {
            "correct": correct,
            "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]),
            "metrics": metrics.metric_block(values, spec[section]),
        }
        report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds, "cores": ncores, "inputs": sizes,
                  "checks": checks, "details": metrics.details(rec),
                  "values": values,
                  "calibration": rec["calibration"], "cycles": rec["cycles"],
                  "loop_s": rec["loop_s"], "setup_rep_s": rec["setup_rep_s"],
                  "warmup_s": rec["warmup_s"], "live_mark_s": rec["live_mark_s"],
                  "session_s": rec["session_s"], "wall_s": time.time() - start,
                  "gen_s": gen_s, "jvm_s": jvm_s,
                  "samples": rec["samples"],
                  "result": result}
        os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)
        with open(os.path.join(STATE, "reports",
                               f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1)
        cal = rec["calibration"]
        if (cal["serial_end_s"] > 2 * cal["serial_envelope_s"]
                or cal["par_end_s"] > 2 * cal["par_envelope_s"]):
            log(f"host looked contended: calibration {cal}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
