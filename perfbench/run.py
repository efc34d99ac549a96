#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (why each was chosen is in BENCHMARK.json):
  run_dense  Pipeline.run over 1,000 seeded light, mention-dense pages, with
             triples, nodes and adjacency materialized; checked against the
             staged build (Pipeline.build) of the same table
  query_mix  every SparkEntry query over the sf0.01 tables (perfbench/data/
             sf0.01, rows in an order the seed permutes), two closed-loop clients:
             one runs the five heavy queries (q34, q29 = the KG pipeline on
             120 pages, q27, q22, q21) in that order, the other the rest in
             an order the seed shuffles; each result is written as parquet
             and checked by tools/check_oracle.py's comparison against its
             DuckDB oracle SQL (rows-only queries must return rows)

The first run builds the library and the benchmark from source with sbt
(perfbench/build.sbt compiles the repository's build as a dependency) and
caches the classpath under .bench_build/; later runs reuse it until a
source file changes. Each run starts one JVM at local[<cores>]. Set-up is
timed: the session start and one warm-up op
(run_dense: the staged build that gives the reference triples; query_mix:
q29's pipeline, which also dumps the intermediates q29's oracle needs).
Generating the seeded tables between the two is not timed. Then ops run
for --seconds, at least one op (run_dense) or one full pass (query_mix).

End-to-end metrics (--trace 0), reported by every workload:
  setup_s         session start plus the warm-up op
  docs_per_s      pages per second of op time; query_mix: q29's 120 pages
  triples_per_s   triples per second of op time; query_mix: q29's triples
  latency_p50_s   median op latency (one Pipeline.run, one query)
  latency_tail_s  highest percentile with ten samples beyond it (the median
                  when there are fewer than 21 samples); count in the notes
  pass_s          query_mix: wall time of one pass over every query;
                  run_dense: the median op
  peak_rss_mb     peak resident memory of the JVM after set-up
Every workload reports all seven, so some are arithmetic copies of one
measurement: on run_dense, latency_p50_s, latency_tail_s and pass_s are
the median op time and docs_per_s and triples_per_s its inverses scaled;
on query_mix, docs_per_s and triples_per_s are q29's latency inverted.
The error rate is failed/attempted of the result line.

--trace 1 runs the same work untraced and with a span around each layer
call (run_dense) or query (query_mix), checks that both give the same
outputs (query_mix: both match the oracle), and reports the per-layer
metrics (report.py). run_dense's trace overhead compares the layer-by-layer
run traced with the mean of the same run untraced just before and just
after it. run_dense's traced run also composes the staged build of the
same table (stage commits, enrich, ann_ivf), which must write the same
store as Pipeline.build.

Stdout: one line per metric, a notes line (load average at start and end,
cores, revision, sample counts), then the result JSON as the last line.
Exit code 2 when the repository sources (build.sbt, src/main/scala and
tools/check_oracle.py) are missing, 3 when another sbt or Spark JVM is
running, 1 on any other failure.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import querydata  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["run_dense", "query_mix"]
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "4g"
# seeded table sets kept per workload (older ones are deleted)
KEEP_TABLES = 24

# JDK 17 module opens Spark needs outside spark-submit (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the repository root."""
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build():
    """Classpath of the compiled benchmark, building it if any source
    changed since the last build."""
    stamp = digest(sources())
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building library and benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=sbt_env(), capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def other_jvms():
    """Command lines of running sbt or Spark JVMs other than this process
    tree's: a concurrent sbt can make a run execute stale classes, and any
    second Spark JVM skews the timings."""
    found = []
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if not argv or not os.path.basename(argv[0]).startswith(b"java"):
            continue
        cmd = b" ".join(argv).decode(errors="replace")
        if any(k in cmd for k in ("sbt-launch", "xsbt.boot", "sbt.ForkMain",
                                  "org.apache.spark", "graft.")):
            found.append(f"{pid}: {cmd[:160]}")
    return found


def cores():
    return len(os.sched_getaffinity(0))


def revision():
    """The commit, or a digest of the sources when the checkout is not a
    git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest(sources())[:12]


def data_dir(workload, seed):
    """This run's directory of seeded tables, one per (workload, seed) and
    reused by later runs; all but the KEEP_TABLES most recently used are
    deleted. The workload validates and (re)generates what is inside."""
    root = os.path.join(WORK, "data", workload)
    d = os.path.join(root, f"seed{seed}")
    os.makedirs(d, exist_ok=True)
    os.utime(d)
    old = sorted((os.path.join(root, n) for n in os.listdir(root)),
                 key=os.path.getmtime, reverse=True)[KEEP_TABLES:]
    for o in old:
        shutil.rmtree(o)
    return d


def run_jvm(cp, args, n_cores, out, extra):
    # a fixed heap, so resident memory does not follow the collector's
    # resizing decisions
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={WORK}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(n_cores), "--work", WORK, "--out", out] + extra)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-6000:])
        raise SystemExit(f"benchmark JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        log("the repository sources (build.sbt, src/main/scala, "
            "tools/check_oracle.py) are missing")
        return 2
    import oracle
    busy = other_jvms()
    if busy:
        log("refusing to start: another sbt or Spark JVM is running:\n  "
            + "\n  ".join(busy))
        return 3

    load_start = os.getloadavg()
    cp = ensure_build()
    n_cores = cores()
    tables = data_dir(args.workload, args.seed)
    gen_s = 0.0
    if args.workload == "query_mix":
        t0 = time.time()
        querydata.ensure(tables, args.seed)
        gen_s = time.time() - t0
    raw = run_jvm(cp, args, n_cores, os.path.join(WORK, f"raw-{args.workload}.json"),
                  ["--input", tables])
    if args.workload == "query_mix":
        raw["gen_s"] += gen_s
        raw["input"] = {"tables": "sf0.01", "clients": 1 if args.trace else 2}
        bad = oracle.check(tables, raw["results_dir"], raw["queries"])
        for name, why in sorted(bad.items()):
            log(f"{name}: {why}")
        for o in raw["ops"]:
            if o["name"] in bad:
                o["ok"] = False

    rate, attempted, failed = report.error_rate(raw["ops"])
    notes = {"workload": args.workload, "seed": args.seed, "cores": n_cores,
             "revision": revision(), "load_start": load_start,
             "load_end": os.getloadavg(), "gen_s": raw.get("gen_s"),
             "input": raw.get("input")}
    if args.trace:
        if args.workload == "query_mix":
            bad = oracle.check(tables, raw["trace"]["results_dir"], raw["queries"])
            for name, why in sorted(bad.items()):
                log(f"traced {name}: {why}")
            raw["trace"]["equal"] = not bad
        metrics = report.per_layer(raw, raw["queries"])
        notes["traced_equals_untraced"] = raw["trace"]["equal"]
        correct = failed == 0 and raw["trace"]["equal"]
    else:
        metrics, more = report.end_to_end(raw)
        notes.update(more)
        correct = failed == 0
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print("notes " + json.dumps(notes))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
