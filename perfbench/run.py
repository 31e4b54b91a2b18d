#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 11 --trace 0

Run from the repository root. It builds the program and the benchmark's JVM
side from source (scalac from the Spark distribution's jars, output under
$CARGO_TARGET_DIR or .bench_build), generates the workload's inputs from
the seed, runs the JVM side, checks every output against the DuckDB
oracle, prints a human-readable report and, as the last line, the JSON
result. See perfbench/README.md.
"""
import argparse
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

CPUS = max(1, min(4, os.cpu_count() or 1))
# Nominal seconds of one pass of each workload on a 4-core host: a run
# measures round(--seconds / nominal) whole passes (at least two).
PASS_S = {"corpus_curation": 5.5, "etl_write": 4.3}
# Set-up is timed from JVM start in this many JVMs: the measuring one and
# SETUP_JVMS - 1 launched before it that only set up. setup_s is the median.
SETUP_JVMS = 2
# with the set-up JVMs' limit, a run ends within 180 s once built
SETUP_TIMEOUT_S = 40
JVM_TIMEOUT_S = 120
KEEP_DATASETS = 24

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s")]
PER_LAYER = [
    ("engine.build_s", "s"), ("engine.build_jobs", "count"),
    ("engine.analysis_s", "s"), ("engine.optimization_s", "s"), ("engine.planning_s", "s"),
    ("engine.exec_s", "s"), ("engine.jobs", "count"), ("engine.stages", "count"),
    ("engine.tasks", "count"), ("engine.tasks_per_stage", "ratio"),
    ("engine.task_s", "s"), ("engine.task_cpu_s", "s"), ("engine.gc_s", "s"),
    ("engine.core_util", "ratio"), ("engine.sched_delay_s", "s"), ("engine.overhead_s", "s"),
    ("engine.shuffle_write_mb", "MB"), ("engine.shuffle_read_mb", "MB"),
    ("engine.spill_mb", "MB"), ("engine.failed_tasks", "count"),
    ("sources.read_s", "s"), ("sources.input_mb", "MB"), ("sources.input_rows", "rows"),
    ("sources.rows_kept_frac", "ratio"),
    ("pipeline.ingest_s", "s"), ("pipeline.ingest_rows", "rows"),
    ("sinks.write_s", "s"), ("sinks.commit_s", "s"), ("sinks.merge_s", "s"),
    ("sinks.export_s", "s"), ("sinks.output_mb", "MB"), ("sinks.files_written", "count"),
    ("sinks.write_amp", "ratio"),
    ("proto.arrow_s", "s"), ("proto.rowcodec_s", "s"), ("proto.bytes_per_row", "bytes"),
    ("ops.dedup_s", "s"), ("ops.text_s", "s"), ("ops.similarity_s", "s"),
    ("ops.pq_s", "s"), ("ops.sampling_s", "s"),
    ("functions.kernel_s", "s"), ("functions.kernel_rows_per_s", "rows/s"),
    ("trace.job_latency_s", "s"), ("trace.residual_s", "s"),
    ("trace.overhead_s", "s"), ("trace.spans", "count"),
]
WORKLOADS = list(PASS_S)
JDK_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- statistics

def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default rule)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, ladder=(50, 75, 90, 95, 99, 99.9)):
    """Highest percentile of the ladder with at least ten samples beyond it
    (None when even the median has fewer)."""
    best = None
    for p in ladder:
        if n * (100 - p) / 100.0 >= 10 - 1e-9:
            best = p
    return best


# ------------------------------------------------------------------ build

def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    build_sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  build_sbt.read_text() if build_sbt.exists() else "")
    return Path(m.group(1)) if m else None


def sources(root):
    files = sorted((root / "src" / "main").rglob("*.scala")) + sorted(HERE.glob("src/*.scala"))
    return [f for f in files if f.is_file()]


def build(root, build_dir, jars):
    """Compile the program and the benchmark's JVM side with scalac from the
    Spark jars; skipped when the sources' hash matches the last build."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = build_dir / "classes.sha256"
    classes = build_dir / "classes"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    log(f"compiling {len(files)} sources")
    argfile = build_dir / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"],
        check=True, cwd=root, stdout=sys.stderr)
    stamp.write_text(h.hexdigest())
    return classes


# ----------------------------------------------------------------- inputs

def file_hash(*paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(Path(p).read_bytes())
    return h.hexdigest()[:16]


def dataset(build_dir, workload, seed):
    """Generate (or reuse) the seed's inputs; keep the newest few per workload.
    The directory name carries the generator's hash, so an edited generator
    never reuses stale inputs."""
    import gen
    base = build_dir / "data"
    d = base / f"{workload}-{seed}-{file_hash(HERE / 'gen.py')}"
    summary = d / "summary.json"
    if not summary.exists():
        shutil.rmtree(d, ignore_errors=True)
        tmp = base / f".{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        s = gen.generate(workload, seed, tmp)
        (tmp / "summary.json").write_text(json.dumps(s, indent=1))
        tmp.rename(d)
    old = sorted((p for p in base.glob(f"{workload}-*") if p != d), key=lambda p: p.stat().st_mtime)
    for p in old[:max(0, len(old) - KEEP_DATASETS + 1)]:
        shutil.rmtree(p, ignore_errors=True)
        for f in (build_dir / "oracle").glob(f"{p.name}-*.json"):
            f.unlink(missing_ok=True)
    os.utime(d)
    return d, json.loads(summary.read_text())


# ------------------------------------------------------------------- main

def passes(args):
    return max(2, round(args.seconds / PASS_S[args.workload]))


def jvm_cmd(classes, jars, run_dir, args):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={run_dir / 'local'}",
            "-Dlog4j2.level=WARN",
            "-cp", f"{classes}:{jars}/*", "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed), "--cpus", str(CPUS),
            "--run", str(run_dir)]
    return cmd


def setup_only(classes, jars, args, data, run_dir):
    """One extra JVM that only sets up; returns its set-up time."""
    out = run_dir / "setup.json"
    cmd = jvm_cmd(classes, jars, run_dir, args) + [
        "--data", str(data), "--out", str(out), "--setup-only", "1"]
    with open(run_dir / "jvm.log", "w") as err:
        p = subprocess.run(cmd, cwd=run_dir, stdout=err, stderr=subprocess.STDOUT,
                           timeout=SETUP_TIMEOUT_S)
    if p.returncode != 0:
        print((run_dir / "jvm.log").read_text()[-4000:], file=sys.stderr)
        raise SystemExit(f"perfbench: set-up JVM exited with {p.returncode}")
    return json.loads(out.read_text())["setup_s"]


def run_jvm(classes, jars, args, data, run_dir, out, spans, on_oracle_sql):
    """Run the JVM side; `on_oracle_sql` runs while the JVM's check pass does."""
    cmd = jvm_cmd(classes, jars, run_dir, args) + [
        "--passes", str(passes(args)), "--trace", str(args.trace),
        "--data", str(data), "--out", str(out), "--spans", str(spans)]
    log_file = run_dir / "jvm.log"
    with open(log_file, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=err, stderr=subprocess.STDOUT)
        try:
            deadline = time.time() + JVM_TIMEOUT_S
            ready = run_dir / "check" / "oracle_sql.ready"
            while p.poll() is None and time.time() < deadline:
                if ready.exists() and not (run_dir / "oracle.done").exists():
                    on_oracle_sql()
                    (run_dir / "oracle.done").write_text("")
                time.sleep(0.05)
            if p.poll() is None:
                raise SystemExit("perfbench: JVM side timed out")
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    if p.returncode != 0:
        print(log_file.read_text()[-4000:], file=sys.stderr)
        raise SystemExit(f"perfbench: JVM side exited with {p.returncode}")
    return json.loads(out.read_text())


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = Path.cwd()
    jars = spark_jars(root)
    if not (root / "src" / "main" / "scala").is_dir() or not (jars and jars.is_dir()):
        sys.exit("perfbench: run from the repository root (src/main/scala or the Spark jars not found)")
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)

    import check
    t0 = time.time()
    classes = build(root, build_dir, jars)
    t1 = time.time()
    data, inputs = dataset(build_dir, args.workload, args.seed)
    t2 = time.time()
    run_dir = build_dir / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    spans = build_dir / "trace" / f"{args.workload}-{args.seed}.spans.jsonl"
    con = check.connect(data)
    want = {}

    def oracle():
        # keyed by the inputs and by everything that defines the expected
        # answers: the gates' oracle SQL, the job list, the checking code
        key = file_hash(run_dir / "check" / "oracle_sql.json", run_dir / "check" / "jobs.txt",
                        HERE / "check.py", root / "tools" / "local_verify.py")
        cache = build_dir / "oracle" / f"{data.name}-{key}.json"
        if cache.exists():
            want.update(json.loads(cache.read_text()))
            return
        oracle_sql = json.loads((run_dir / "check" / "oracle_sql.json").read_text())
        jobs = (run_dir / "check" / "jobs.txt").read_text().split()
        want.update(check.expected(con, args.workload, oracle_sql, jobs))
        cache.parent.mkdir(parents=True, exist_ok=True)
        cache.write_text(json.dumps(want))

    try:
        setups = []
        for k in range(SETUP_JVMS - 1):
            d = run_dir / f"setup{k}"
            d.mkdir()
            setups.append(setup_only(classes, jars, args, data, d))
            shutil.rmtree(d, ignore_errors=True)
        res = run_jvm(classes, jars, args, data, run_dir, run_dir / "result.json", spans, oracle)
        res["setup_s"] = setups + [res["setup_s"]]
        t3 = time.time()
        got = check.actual(con, args.workload, run_dir / "check", list(res["jobs"]))
        bad = check.compare(args.workload, want, got, res["jvm_checks"])
        t4 = time.time()
        log(f"build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, jvm {t3 - t2:.1f} s, check {t4 - t3:.1f} s; "
            "jvm marks (s from start): " + ", ".join(f"{k} {v:.1f}" for k, v in res["marks"].items())
            + "; set-up JVMs " + ", ".join(f"{x:.2f}" for x in res["setup_s"])
            + "; pass walls " + ", ".join(f"{x:.2f}" for x in res["pass_walls"]))
    finally:
        con.close()
        if (run_dir / "jvm.log").exists():
            shutil.copy(run_dir / "jvm.log", build_dir / f"last-{args.workload}.log")
        keep_sample(run_dir / "check", build_dir / "sample" / args.workload)
        shutil.rmtree(run_dir, ignore_errors=True)
    report(args, res, inputs, bad)


def keep_sample(check_dir, dest):
    """Keep one dumped gate output; the canonical-hash test compares it with
    tools/local_verify.py."""
    dumps = sorted(d for d in check_dir.glob("*") if d.is_dir() and any(d.glob("*.parquet")))
    if dumps:
        shutil.rmtree(dest, ignore_errors=True)
        dest.mkdir(parents=True)
        for f in dumps[0].glob("*.parquet"):
            (dest / dumps[0].name).mkdir(exist_ok=True)
            shutil.copy(f, dest / dumps[0].name / f.name)


def report(args, res, inputs, bad):
    samples = res["samples"]
    pooled = [x for v in samples.values() for x in v]
    timed_fail = [f for f in res["failures"] if f["phase"] == "timed"]
    failed_jobs = {f["job"] for f in res["failures"]} | set(bad)
    # a job whose output is wrong (or that threw in the check pass) fails
    # every time it ran; a throw in the window fails that one execution
    failed = len(timed_fail) + sum(max(1, len(samples.get(j, []))) for j in failed_jobs
                                   if j not in {f["job"] for f in timed_fail})
    attempted = max(1, len(pooled) + len(timed_fail))
    wall = statistics.median(res["pass_walls"])
    metrics = {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": wall,
        "rows_per_s": inputs["rows"] / wall if wall > 0 else 0.0,
    }
    units = dict(END_TO_END + PER_LAYER)
    out = {}
    if args.trace:
        tr = dict(res["trace"])
        tr["trace.overhead_s"] = statistics.median(res["traced_pass_walls"]) - wall
        out = {k: {"value": tr[k], "unit": units[k]} for k, _ in PER_LAYER}
    else:
        out = {k: {"value": metrics[k], "unit": units[k]} for k, _ in END_TO_END}

    tp = tail_percentile(len(pooled))
    print(f"workload {args.workload}  seed {args.seed}  passes {res['passes']}  "
          f"window {res['window_s']:.2f} s  jobs {len(samples)}  samples {len(pooled)}  "
          f"input rows {inputs['rows']}  dup share {inputs.get('dup_share', 0):.4f}")
    for k, u in END_TO_END:
        print(f"  {k:<14} {metrics[k]:>14.4f} {u}")
    for p in (50, 90):
        print(f"  {f'job_p{p}_s':<14} {percentile(pooled, p):>14.4f} s  (not gated)")
    print(f"  {'failed_frac':<14} {failed / attempted:>14.4f} ratio  ({failed}/{attempted})")
    print(f"  {'peak_rss_mb':<14} {res['peak_rss_mb']:>14.4f} MB  (JVM VmHWM)")
    print(f"  tail: highest percentile with >=10 samples beyond it: "
          f"{'p' + str(tp) if tp else 'none'} (n={len(pooled)})")
    c = res["calib"]
    print(f"  host probe ({c['threads']} threads, s): pre 1t {c['pre_1t']:.3f} nt {c['pre_nt']:.3f}"
          f"  post 1t {c['post_1t']:.3f} nt {c['post_nt']:.3f}"
          f"  window CPU steal {100 * c['window_steal']:.1f}%")
    med = sorted(((statistics.median(v), k) for k, v in samples.items() if v), reverse=True)
    print("  job medians (s): " + ", ".join(f"{k} {m:.3f}" for m, k in med))
    for f in res["failures"]:
        print(f"  FAILED {f['job']} ({f['phase']}): {f['error']}")
    for name, why in sorted(bad.items()):
        print(f"  MISMATCH {name}: {why}")
    if args.trace:
        print(f"  traced passes {res['traced_passes']}  spans -> "
              f".bench_build/trace/{args.workload}-{args.seed}.spans.jsonl")
        for k, u in PER_LAYER:
            print(f"  {k:<28} {out[k]['value']:>14.4f} {u}")
    print(json.dumps({"correct": not failed_jobs and not timed_fail,
                      "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
