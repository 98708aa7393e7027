"""The repository benchmark: one command, three seeded workloads.

  python3 perfbench/run.py --workload index_tree|api_serve|report_pass \
      --seed N --seconds S --trace 0|1 [--record FILE]

Run from the repository root. It compiles src/main and the harness in
perfbench/scala with the Scala compiler shipped in Spark's jars (the
directory build.sbt names as unmanagedBase, or $SPARK_HOME/jars) into
one jar under $CARGO_TARGET_DIR (default .bench_build), reusing it while
the sources are unchanged. The first run of a workload on a build first
records the JVM's class-data archive for it in one untimed run, so that
every measured run maps the same loaded classes instead of loading and
verifying them again. It then runs the workload in one JVM, checks every output
against known truth, prints the named metrics with their units and,
as the last line, one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics. The full run record (every
sample, span, named layer metric and the host telemetry) is written to
--record, default <build>/perfbench/records/<workload>-<seed>-trace<t>.json;
layerdiff.py compares two of them. The exit code is 0 only when every
operation succeeded and matched its truth.
"""
import argparse
import contextlib
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import report  # noqa: E402

WORKLOADS = ("index_tree", "api_serve", "report_pass")
RUN_LIMIT_S = 170
JVM_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """$SPARK_HOME/jars, else the jars directory the sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        die(f"no build.sbt naming Spark's jars under {root}; run from the repository root")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True) +
                  glob.glob(os.path.join(root, "src/main/**/*.java"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main, bench


def build(root, build_dir, jars):
    """Compile the program and the harness; reuse classes for unchanged sources."""
    main, bench = sources(root)
    if not main:
        die(f"no program sources under {root}/src/main; run from the repository root")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    with build_lock(build_dir):
        if not os.path.exists(os.path.join(out, ".complete")):
            compile_into(out, build_dir, main + bench, jars)
    return out


@contextlib.contextmanager
def build_lock(build_dir):
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def compile_into(out, build_dir, srcs, jars):
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    t = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", classes] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("compilation failed")
    # the class-data archive takes classes from jars only, not directories
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w") as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t:.1f} s", file=sys.stderr)


def class_archive(args, out, jars, build_dir):
    """The JVM flag that maps this workload's class-data archive, recorded
    by one untimed run on first use of the build; None if recording it
    failed."""
    jsa = os.path.join(out, f"{args.workload}.jsa")
    failed = jsa + ".failed"
    with build_lock(build_dir):
        if not os.path.exists(jsa) and not os.path.exists(failed):
            t = time.time()
            work = os.path.join(build_dir, "work", args.workload + "-archive")
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(os.path.join(work, "jvm-tmp"))
            rec = argparse.Namespace(**{**vars(args), "seconds": 1, "trace": 0})
            try:
                code = run_jvm(rec, out, jars, work, os.path.join(work, "raw.json"),
                               time.time() + RUN_LIMIT_S,
                               f"-XX:ArchiveClassesAtExit={jsa}.tmp")
            finally:
                shutil.rmtree(work, ignore_errors=True)
            if code == 0 and os.path.exists(jsa + ".tmp"):
                os.rename(jsa + ".tmp", jsa)
                print(f"perfbench: recorded the class-data archive in {time.time() - t:.1f} s",
                      file=sys.stderr)
            else:
                open(failed, "w").close()
                print(f"perfbench: no class-data archive (recording exited {code})",
                      file=sys.stderr)
    return f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else None


def run_jvm(args, out, jars, work, raw, deadline, archive):
    cmd = (["java"] + ([archive] if archive else []) +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] +
           # a fixed, pre-touched heap keeps peak RSS from depending on GC timing
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/jvm-tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", f"{out}/perfbench.jar:{jars}/*", "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(HERE, "data"),
            "--python", sys.executable, "--treegen", os.path.join(HERE, "treegen.py"),
            "--cpus", str(len(os.sched_getaffinity(0))), "--out", raw])
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"run exceeded {RUN_LIMIT_S} s")


def fmt(metrics):
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    args = ap.parse_args(argv)

    root = os.getcwd()
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler in {jars}")
    build_dir = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                             "perfbench")
    out = build(root, build_dir, jars)
    archive = class_archive(args, out, jars, build_dir)

    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(build_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "jvm-tmp"))
    raw = os.path.join(work, "raw.json")
    try:
        code = run_jvm(args, out, jars, work, raw, deadline, archive)
        if code != 0 or not os.path.exists(raw):
            die(f"harness exited {code} without a run record")
        with open(raw) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, named, tail = report.end_to_end(rec)
    rec["environment"] = report.environment(rec)
    rec["gates"] = report.gates(rec)
    rec["end_to_end"] = fmt(e2e)
    rec["named"] = fmt(named)
    rec["tail"] = tail
    if args.trace:
        metrics, detail = report.per_layer(rec)
        rec["per_layer"] = fmt(metrics)
        rec["layers"] = detail
    else:
        metrics = e2e
    correct = rec["failed"] == 0 and rec["attempted"] > 0

    out = sys.stdout
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}", file=out)
    for k, (v, u) in named.items():
        print(f"  {k:<28} {v:14.4f} {u}", file=out)
    if tail:
        print(f"  tail: p{tail['p']:g} = {tail['value']:.2f} ms over {tail['n']} operations",
              file=out)
    for k, (v, ok) in rec["gates"].items():
        print(f"  gate {k:<34} {v:.4f} {'PASS' if ok else 'FAIL'}", file=out)
    if args.trace:
        for k, v in sorted(rec["layers"].items()):
            if not k.startswith("spark.span."):
                print(f"  {k:<44} {v}", file=out)
    env = rec["environment"]
    print(f"  env: nproc {env['nproc']}  steal max {env['steal_pct_max']:.2f}%  "
          f"load1 max {env['load1_max']:.2f}  peak rss {env['peak_rss_mb']:.0f} MB", file=out)
    share = rec["failed"] / rec["attempted"] if rec["attempted"] else 1.0
    print(f"  operations: {rec['attempted']} attempted, {rec['failed']} failed "
          f"({100 * share:.2f}%)", file=out)
    for f in rec["failures"][:10]:
        print(f"  FAILED {f}", file=out)

    path = args.record or os.path.join(
        build_dir, "records", f"{args.workload}-{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": fmt(metrics)}), file=out)
    out.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
