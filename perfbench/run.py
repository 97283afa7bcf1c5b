#!/usr/bin/env python3
"""The repository benchmark (see BENCHMARK.json and perfbench/README.md).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from this checkout's sources (once;
reused while the sources are unchanged), generates the workload's
inputs from the seed, runs the JVM harness, checks every output, and
prints two lines: a detail object (host fingerprint, commit, seed,
failure fraction, sample counts) and, last, the result object with
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end metrics, with `--trace 1` the per-layer ones.

Everything it writes stays under `.bench_build/` in the checkout.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ack_fanout", "ack_chain", "query_mix")
# query_mix table scale: the shape of the repository's sf0.01 fixture tier
MIX_SF = 0.01
# a run must end within 180 s of its start (the first run also builds)
RUN_LIMIT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars the repository build compiles against: the
    build.sbt `unmanagedBase`, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SPARK_JARS = spark_jars()


def sources():
    """(relative path, absolute path) of every file the build reads."""
    out = []
    for rel in ("src/main/scala", "src/main/resources", "perfbench/src"):
        base = os.path.join(ROOT, rel)
        for d, _, files in os.walk(base):
            for f in files:
                p = os.path.join(d, f)
                out.append((os.path.relpath(p, ROOT), p))
    return sorted(out)


def build():
    """Compile the engine and the harness with scalac into
    .bench_build/classes, unless the sources are unchanged since the
    last build. Returns the source digest."""
    srcs = sources()
    if not any(r.startswith("src/main/scala/") and r.endswith(".scala")
               for r, _ in srcs):
        fail("no engine sources under src/main/scala; run from the root "
             "of a repository checkout", 2)
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at '{SPARK_JARS}' (set SPARK_HOME)", 2)
    digest = hashlib.sha256()
    for rel, path in srcs:
        digest.update(rel.encode() + b"\0")
        with open(path, "rb") as f:
            digest.update(f.read())
    digest = digest.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(classes, ".stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return digest
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        scala = [p for r, p in srcs if r.endswith(".scala")]
        cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss16m",
               "-cp", SPARK_JARS + "/*", "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", tmp] + scala
        t0 = time.time()
        res = subprocess.run(cmd, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            print(res.stdout[-4000:], file=sys.stderr)
            fail("build failed", 3)
        shutil.copytree(os.path.join(ROOT, "src/main/resources"), tmp,
                        dirs_exist_ok=True)
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(digest)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        print(f"perfbench: built in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return digest


def sweep_runs():
    """Remove run directories left by runs that were killed."""
    for d in os.listdir(BUILD):
        if d.startswith("run-"):
            try:
                os.kill(int(d[4:]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
            except PermissionError:
                pass


def cores():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return None


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, run_dir, deadline):
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        "-XX:-UsePerfData", "-Xmx4g",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.path.join(BUILD, "classes") + ":" + SPARK_JARS + "/*",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores()), "--result", result,
        "--data", os.path.join(run_dir, "data"),
        "--out", os.path.join(run_dir, "out")]
        + (["--max-ops", str(args.max_ops)] if args.max_ops else [])
        + (["--inject-drop"] if args.inject_drop else []))
    # The benchmark writes only inside its checkout, so the engine's
    # scratch (streaming checkpoints and Spark local dirs), which
    # graft.Scratch would put on /dev/shm, lives on the checkout's disk;
    # perfbench/README.md gives what that costs.
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            print(f.read()[-6000:], file=sys.stderr)
        fail(f"harness exited with {code}", 4)
    with open(result) as f:
        return json.load(f)


def frame(rows, cols):
    """Rows as comparable tuples: columns in sorted-name order, floats
    by repr so the comparison is exact, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) if isinstance(r[i], float) else str(r[i])
                        for i in order) for r in rows)


def oracle_check(oracles, data_dir, out_dir):
    """Compare each query's Spark result with its DuckDB oracle on the
    same tables. Returns {query: reason} for every mismatch."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    bad = {}
    for q, sql in sorted(oracles.items()):
        try:
            exp = con.sql(sql)
            want = frame(exp.fetchall(), exp.columns)
            got_rel = con.sql(f"SELECT * FROM '{out_dir}/{q}/*.parquet'")
            got = frame(got_rel.fetchall(), got_rel.columns)
            if sorted(exp.columns) != sorted(got_rel.columns):
                bad[q] = f"columns {sorted(got_rel.columns)} != {sorted(exp.columns)}"
            elif got != want:
                diff = len(set(got) ^ set(want))
                bad[q] = f"{len(got)} rows vs oracle {len(want)}, {diff} differ"
        except Exception as e:  # a broken oracle or missing output is a failure
            bad[q] = f"{type(e).__name__}: {str(e)[:200]}"
    return bad


def percentile(xs, q):
    """Linear-interpolated percentile (q in 0..100)."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--max-ops", type=int, default=0,
                    help="stop after this many timed operations (smoke test)")
    ap.add_argument("--inject-drop", action="store_true",
                    help="one subscriber ignores one event (smoke test)")
    args = ap.parse_args()
    # run the cleanup in `finally` blocks when stopped with SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    digest = build()

    sweep_runs()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "scratch", "out"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        if args.workload == "query_mix":
            sys.path.insert(0, HERE)
            import datagen
            datagen.generate(os.path.join(run_dir, "data"), args.seed, MIX_SF)
        # the engine's scratch is on the checkout's disk (see run_jvm):
        # flush what earlier runs left for writeback, so their disk
        # traffic does not land inside this run's timings
        os.sync()
        setup_start = time.time()
        raw = run_jvm(args, run_dir, setup_start + RUN_LIMIT_S)

        attempted, failed = raw.get("attempted", 0), raw.get("failed", 0)
        findings, per_query = {}, {}
        if args.workload == "query_mix":
            findings = oracle_check(raw["oracles"],
                                    os.path.join(run_dir, "data"),
                                    os.path.join(run_dir, "out"))
            missing = set(q for q in (e["query"] for e in raw["execs"])
                          if q not in raw["oracles"])
            findings.update({q: "no oracle" for q in missing})
            execs = raw["execs"]
            attempted = len(execs)
            failed = sum(1 for e in execs
                         if not e["ok"] or e["query"] in findings)
            passes = {}
            for e in execs:
                if e["pass"] >= 0:
                    passes.setdefault(e["pass"], []).append(e)
            samples = [sum(e["build_s"] + e["run_s"] for e in p) * 1e3
                       for p in passes.values()
                       if all(e["ok"] and e["query"] not in findings
                              for e in p)]
            for e in execs:
                if e["pass"] >= 0 and e["ok"]:
                    per_query.setdefault(e["query"], []).append(
                        e["build_s"] + e["run_s"])
            per_query = {q: statistics.median(v) for q, v in per_query.items()}
        else:
            samples = raw["samples_ms"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = (failed == 0 and not findings and raw.get("contract_ok", False)
               and len(samples) > 0)
    end_to_end = {
        "setup_s": (raw["setup_end_ms"] / 1e3 - setup_start, "s"),
        "latency_p50_ms": (statistics.median(samples) if samples else 0.0,
                           "ms"),
        "heap_live_mb": (raw["heap_live_mb"], "MB"),
        "cpu_ms_per_op": (raw["cpu_ms_per_op"], "ms"),
    }
    layers = raw.get("layers", {})
    if args.trace:
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {}
        for m in spec["end_to_end"]:
            value, unit = end_to_end[m["name"]]
            metrics[m["name"]] = {"value": value, "unit": unit}
    fingerprint = {
        "nproc": cores(), "mem_total_kb": mem_total_kb(),
        "session_cores": raw["session_cores"],
        "java_version": raw["java_version"],
        "spark_version": raw["spark_version"],
    }
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "fingerprint": fingerprint,
        "fingerprint_id": hashlib.sha256(json.dumps(
            fingerprint, sort_keys=True).encode()).hexdigest()[:12],
        "git_commit": git_commit(), "source_sha256": digest,
        "failed_frac": failed / attempted if attempted else 1.0,
        "samples": len(samples),
        "latency_p50_ms": end_to_end["latency_p50_ms"][0],
        "latency_p90_ms": percentile(samples, 90) if samples else None,
        "peak_heap_mb": raw["peak_heap_mb"],
        "cpu_ms_per_op": raw["cpu_ms_per_op"],
        "samples_ms": [round(x, 1) for x in samples],
        "cpu_samples_ms": raw.get("cpu_samples_ms"),
        "findings": findings,
        "query_s": per_query,
    }
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
