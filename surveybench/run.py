#!/usr/bin/env python3
"""Survey benchmark: epoch ingest + cross-match, interactive sky search,
pipeline operators.

Run from the root of a checkout:

    python3 surveybench/run.py --workload survey --seed 1 --seconds 10 --trace 0

The first run builds the graft program and the JVM harness from source
with sbt (offline) into the checkout; later runs reuse that build while
the sources are unchanged. One run starts one JVM (Spark local[N],
N = min(4, cpus)), which sets up, warms up and measures one workload.
The outputs are then checked against independent DuckDB computations,
outside the timed region. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it is
the run header. With --trace 0 the metrics are every end-to-end metric
of BENCHMARK.json, each measured on the workload's own operations, with
--trace 1 every per-layer metric (layers a workload does not exercise
read 0). Timings in the end-to-end metrics are own time: wall time with
the host's CPU steal over the call taken out (surveybench/README.md,
"Metrics").
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["survey", "pipeline_ops"]
# End-to-end metrics; every workload reports each of them, units come
# from BENCHMARK.json. The survey's own figures (search_p50_ms,
# xmatch_rows_per_s, storage_amp, ...) are in the run header, under
# "unbounded" (README.md, "Metrics").
E2E = ["setup_s", "op_geomean_ms", "batch_s", "peak_rss_mb"]
PIPELINE_QUERIES = ["graph_pagerank", "text_nb_eval", "q20_potential", "q_profile", "q_paircorr",
                    "q_bucketed", "q_rfm"]
_EVERY = ([f"spark.{m}" for m in ("jobs_per_op", "stages_per_op", "tasks_per_op",
                                  "sched_delay_ms_per_op", "core_busy_frac", "deserialize_s",
                                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
                                  "failed_tasks")]
          + [f"self.{l}_s" for l in ("bench", "sources", "healpix", "catalog", "plans", "operators")]
          + ["trace.spans"])
# Per-layer metrics each workload's traced run fills; the traced run
# reports every per-layer metric of BENCHMARK.json, and those of layers
# the workload does not exercise read 0.
PER_LAYER = {
    "survey": ["sources.read_s"] + [f"catalog.{m}" for m in (
        "partition_map_s", "assign_s", "margin_s", "import_s", "append_s", "partitions",
        "files_written", "margin_rows_per_row", "max_partition_fill", "xmatch_open_ms",
        "xmatch_exec_s", "xmatch_pairs_per_match", "search_open_ms", "search_exec_ms",
        "search_files_read", "search_rows_read_per_row", "storage_amp")]
        + ["healpix.cover_us", "plans.search_plan_ms", "trace.search_overhead_pct",
           "trace.ingest_overhead_pct"] + _EVERY,
    "pipeline_ops": [f"operators.{q}_s" for q in PIPELINE_QUERIES]
        + ["plans.pipeline_plan_ms", "trace.pipeline_overhead_pct"] + _EVERY,
}
SETUP_REPS = 3             # set-up samples per run; setup_s is their median
RUN_LIMIT_S = 175          # a run (after the build) ends within 180 s
JVM_BUDGET_S = 140         # measurement loops start no new work after this many seconds
JVM_HEAP = "2g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[surveybench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest():
    """Digest of everything the build compiles: program + harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def build(digest):
    """Compile graft + the harness with sbt; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", f"-Djna.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # the launcher's own `java -version` probe reads only JAVA_TOOL_OPTIONS;
    # without -XX:-UsePerfData every JVM writes a file under /tmp
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", TMPDIR=os.path.join(BUILD, "tmp"))
    log("building graft + harness with sbt (first run in this checkout) ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "surveybench" in l and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die(f"build failed (sbt exit {p.returncode})")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath, "build_s": time.time() - t0}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def run_jvm(classpath, args, inputs, work, cores, deadline):
    """Runs the harness; returns (result dict, peak RSS in MiB)."""
    out = os.path.join(work, "result.json")
    # a fixed heap (initial = max) keeps the peak RSS from following
    # the collector's run-to-run heap-sizing decisions
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for m in JDK_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classpath, "surveybench.Main", "--workload", args.workload,
              "--inputs", ",".join(inputs), "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work, "--out", out, "--budget", str(JVM_BUDGET_S)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, cwd=work)
    rusage = None
    while rusage is None:
        pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid == proc.pid:
            rusage = ru
            proc.returncode = os.waitstatus_to_exitcode(status)
        elif time.time() > deadline:
            proc.kill()
            os.wait4(proc.pid, 0)
            proc.returncode = -9
            die("run exceeded its time limit; harness killed", 3)
        else:
            time.sleep(0.05)
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"harness exited with {proc.returncode}", 3)
    with open(out) as f:
        result = json.load(f)
    return result, rusage.ru_maxrss / 1024.0  # ru_maxrss is KiB on Linux


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a graft checkout: {os.path.join(ROOT, need)} is missing")
    spec = benchmark_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    digest = source_digest()
    classpath = build(digest)

    start = time.time()
    cores = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # set-up, part 1: the inputs, generated from the seed once per
        # set-up repetition into a fresh directory; part 2 (session start
        # and the master-catalog build) happens in the JVM
        inputs, gen_s, digests = [], [], []
        for r in range(SETUP_REPS):
            d = os.path.join(work, f"setup-{r}")
            t0 = time.time()
            params = gen.generate(args.workload, args.seed, d)
            gen_s.append(time.time() - t0)
            digests.append(gen.digest(d))
            inputs.append(d)
        result, rss_mb = run_jvm(classpath, args, inputs, work, cores, start + RUN_LIMIT_S - 20)
        t0 = time.time()
        failures = list(result["failures"])
        if len(set(digests)) != 1:
            failures.append(f"generator: the same seed gave different inputs: {digests}")
        failed = result["failed"] + checks.run(args.workload, result, failures)
        check_s = time.time() - t0
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        record = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
        if "spans" in result["artifacts"]:
            shutil.copy(result["artifacts"]["spans"], record + "-spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = result["attempted"]
    setup = sorted(g + j for g, j in zip(gen_s, result["header"]["setup_jvm_s"]))
    result["e2e"]["setup_s"] = setup[len(setup) // 2]
    header = dict(result["header"], seed=args.seed, generator=params, input_digest=digests[0],
                  setup_gen_s=gen_s, git_sha=git_sha(), source_digest=digest, check_s=check_s,
                  error_rate=failed / max(1, attempted), peak_rss_mb=rss_mb)
    if args.trace:
        values = dict(result["layers"])
        names = [m["name"] for m in spec["per_layer"]]
        if set(values) != set(PER_LAYER[args.workload]) or not set(values) <= set(names):
            die(f"per-layer metric names {sorted(values)} do not match BENCHMARK.json "
                f"for {args.workload}")
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    else:
        values = dict(result["e2e"], peak_rss_mb=rss_mb)
        names = [m["name"] for m in spec["end_to_end"]]
        if set(names) != set(E2E) or not set(names) <= set(values):
            die(f"metric names {sorted(values)} do not match BENCHMARK.json for {args.workload}")
        metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in names}
        header["unbounded"] = {n: v for n, v in values.items() if n not in names}

    with open(record + ".json", "w") as f:
        json.dump({"header": header, "failures": failures, "attempted": attempted, "failed": failed,
                   "metrics": metrics}, f, indent=1)
    for line in failures[:20]:
        log(f"FAILED {line}")
    log(f"{args.workload}: attempted {attempted}, failed {failed}, "
        f"error_rate {failed / max(1, attempted):.4f}; " +
        ", ".join(f"{n} = {m['value']:.6g} {m['unit']}" for n, m in metrics.items()))
    print(json.dumps({"run_header": header}))
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
