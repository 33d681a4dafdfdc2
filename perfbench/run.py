#!/usr/bin/env python3
"""Seeded benchmark of the audio ETL pipeline and the text curation layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload audio-longform --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Workloads: audio-longform, text-curation (see README.md).

The script compiles the repository's main sources and the benchmark's own
Scala sources with the Scala compiler shipped in the Spark distribution
(into .bench_build/, or $CARGO_TARGET_DIR when set), runs one JVM for the
workload, checks the outputs (the text-curation result against its DuckDB
oracle here, the audio results inside the JVM), prints a report of every
metric with its unit and sample count, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. The exit code is 0 only when
every output check passed.
"""
import argparse
import glob
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
WORKLOADS = ("audio-longform", "text-curation")
RUN_LIMIT_S = 170  # a run (after the build) must end well inside 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars next to a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(p, "spark-submit"))))
        for p in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(p, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    fail("no Spark distribution found (set SPARK_HOME)")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, files):
    comp = ":".join(glob.glob(os.path.join(jars, n)) [0] for n in (
        "scala-compiler-2.13*.jar", "scala-library-2.13*.jar", "scala-reflect-2.13*.jar"))
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", comp, "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compilation into {out} failed")


def build(build_dir):
    """Compile main sources, then the benchmark; reuse both while no source
    changed (keyed on a hash of every source file)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    main_files, bench_files = sources(main_src), sources(bench_src)
    if not main_files:
        fail(f"no program sources under {os.path.relpath(main_src, ROOT)}")
    if not bench_files:
        fail("no benchmark sources")
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in main_files + bench_files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "classes.stamp")
    main_out = os.path.join(build_dir, "classes", "main")
    bench_out = os.path.join(build_dir, "classes", "bench")
    cp = os.path.join(jars, "*")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(os.path.join(build_dir, "classes"), ignore_errors=True)
        t0 = time.time()
        scalac(jars, cp, main_out, main_files)
        scalac(jars, f"{cp}:{main_out}", bench_out, bench_files)
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return f"{bench_out}:{main_out}:{cp}"


def run_jvm(classpath, work, args, limit):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=warn"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(cores), "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {limit:.0f} s; log tail:\n" + tail(work))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if not os.path.exists(out):
        fail(f"JVM exited {p.returncode} without a result; log tail:\n" + tail(work))
    with open(out) as fh:
        return json.load(fh), cores


def tail(work):
    with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
        return "".join(fh.readlines()[-30:])


def canonical_hash(rows):
    """SHA-256 over rows rendered as tab-joined cells (\\N for null),
    sorted — the canonical form the JVM side hashes each q372 pass with."""
    lines = sorted("\t".join("\\N" if v is None else str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def q372_oracle(res):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    docs = os.path.join(res["extra"]["docs_dir"], "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    with open(res["extra"]["q372_sql"]) as fh:
        rows = con.execute(fh.read()).fetchall()
    con.close()
    return canonical_hash(rows)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="show that a perturbed row fails each output check")
    args = ap.parse_args()
    t_start = time.time()
    spec = load_spec()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(build_dir)
    t_built = time.time()

    if args.selftest:
        work = os.path.join(build_dir, "work", f"selftest-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx1g", "-cp", classpath,
                                "graftbench.SelfTest"],
                               stdout=subprocess.PIPE, text=True, cwd=work)
            print(r.stdout, end="")
            ok = r.returncode == 0 and selftest_oracle(r.stdout)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(0 if ok else 1)
    if not args.workload:
        ap.error("--workload is required")

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res, cores = run_jvm(classpath, work, args,
                             RUN_LIMIT_S - (time.time() - t_built) - 15)
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if "spans" in res["extra"]:
            kept = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}-spans.tsv")
            os.makedirs(os.path.dirname(kept), exist_ok=True)
            shutil.move(res["extra"]["spans"], kept)
            res["extra"]["spans"] = os.path.relpath(kept, ROOT)
        if args.workload == "text-curation" and attempted:
            expect = q372_oracle(res)
            hashes = [h for h in res["extra"].get("q372_hashes", "").split(",") if h]
            bad = [i for i, h in enumerate(hashes) if h != expect]
            failed += len(bad) + (attempted - len(hashes))
            failures += [f"pass {i}: q372 hash differs from the DuckDB oracle" for i in bad]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = min(failed, attempted)
    correct = attempted > 0 and failed == 0 and not failures
    report(args, res, cores, attempted, failed, failures, time.time() - t_start)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = res["per_layer" if args.trace else "e2e"]
    missing = [n for n in names if n not in source or source[n]["value"] is None]
    if missing:
        fail(f"the run did not measure {missing}")
    metrics = {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def report(args, res, cores, attempted, failed, failures, elapsed):
    """Human-readable lines: every metric by name, unit and sample count."""
    p = lambda s: print(s, flush=True)
    p(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
      f"trace={args.trace} cores=local[{cores}] elapsed={elapsed:.1f}s")
    for k, v in res["inputs"].items():
        p(f"# input {k} = {v:g}")
    for k, v in res["extra"].items():
        if k not in ("q372_hashes", "docs_dir", "q372_sql"):
            p(f"# {k} = {v}")
    e2e = res["e2e"]
    alias = {"audio-longform": "audio_x_realtime", "text-curation": "docs_per_s"}[args.workload]
    for k, v in e2e.items():
        p(f"metric {k} = {v['value']:.6g} {v['unit']} (n={v['n']})")
    if "input_per_s" in e2e:
        v = e2e["input_per_s"]
        p(f"metric {alias} = {v['value']:.6g} {'x' if alias.startswith('audio') else 'docs/s'}"
          f" (n={v['n']})")
    if attempted:
        p(f"metric fail_ratio = {failed / attempted:.6g} failed/attempted (n={attempted})")
    for k, v in res["per_layer"].items():
        p(f"layer {k} = {v['value']:.6g} {v['unit']}")
    for f in failures:
        p(f"# FAILED {f}")


def selftest_oracle(jvm_out):
    """The oracle side of the q372 check hashes rows exactly as the JVM side
    does, and a perturbed row changes the hash."""
    rows = [(0, "docs_total", 10, None, None, None, None),
            (1, None, None, 0, 3, 2048, "abc")]
    perturbed = [rows[0], (1, None, None, 0, 3, 2047, "abc")]
    jvm = [ln.split()[1] for ln in jvm_out.splitlines() if ln.startswith("canonical-hash ")]
    ok = (jvm == [canonical_hash(rows)] and
          canonical_hash(rows) != canonical_hash(perturbed))
    print(f"selftest q372 oracle hash matches the JVM's: {'ok' if ok else 'FAILED'}")
    return ok


if __name__ == "__main__":
    main()
