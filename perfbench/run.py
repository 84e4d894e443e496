#!/usr/bin/env python3
"""graft benchmark: one workload, one seeded run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke          # all workloads, tiny inputs

Run from the repository root. The first run compiles the program's
sources (src/main/scala) together with the harness (perfbench/scala)
into .bench_build/classes against the Spark jars; later runs reuse the
classes while the sources are unchanged. Compiling is outside every
measurement. Each run then generates its inputs from the seed, starts
one local[nproc] JVM, checks every output against a computation made
apart from the program, and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced run. Exit code 0 only when every check holds
and no operation failed.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = None  # set by locate()
WORKLOADS = ("pubmed_keywords", "query_mix", "funnel_ingest")
JVM_TIMEOUT_S = 150

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# Every per-layer metric, with its unit; a layer a workload never calls
# reads 0 on that workload.
PER_LAYER = [
    ("tables.open_ms", "ms"), ("tables.open_jobs", "count"),
    ("queries.construct_ms", "ms"), ("queries.construct_jobs", "count"),
    ("queries.action_ms", "ms"), ("plan.ms", "ms"),
    ("graftx.topk_ops", "count"),
    ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.core_busy", "ratio"), ("exec.gc_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.input_mb", "MB"), ("exec.output_mb", "MB"),
    ("sources.asn1_parse_ms", "ms"), ("sources.ndjson_write_ms", "ms"),
    ("sources.ndjson_read_ms", "ms"),
    ("pipeline.keywords_v1_ms", "ms"), ("pipeline.keywords_v2_ms", "ms"),
    ("sinks.write_ms", "ms"), ("sinks.files", "count"),
    ("sinks.bytes", "bytes"),
    ("funnel.batch_ms", "ms"), ("funnel.maintain_ms", "ms"),
    ("funnel.folds", "count"), ("funnel.survivor_ratio", "ratio"),
    ("index.bytes", "bytes"), ("index.files", "count"),
    ("index.write_amp", "ratio"), ("bm25.query_ms", "ms"),
    ("traced.round_s", "s"), ("traced.round_cpu_s", "s"),
]

# Nominal seconds of one round on a 4-core host. A run makes
# round(seconds / nominal) whole rounds, at least one, so every run of a
# workload at the same --seconds does the same work whatever the host
# speed.
NOMINAL_ROUND_S = {"pubmed_keywords": 1.7, "query_mix": 12, "funnel_ingest": 15}

# The operation kind whose median processor time is op_cpu_p50_ms: one
# page set (a year) converted to NDJSON, one registry query, one
# micro-batch.
UNIT_OP = {"pubmed_keywords": "stage2", "query_mix": "query",
           "funnel_ingest": "batch"}

# Input sizes. Every run starts a fresh JVM, whose set-up costs 15-30 s
# on a 4-core host, so rounds are kept to ~10-15 s of work. The
# warm-ups are one untimed pass (pubmed_keywords), the query list at
# sf0.01 (query_mix) and one batch of 20 docs (funnel_ingest).
FULL = dict(articles=5000, batches=2, batch_size=80)
SMOKE = dict(articles=300, batches=2, batch_size=60)


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def _repo_file(name):
    try:
        with open(os.path.join(ROOT, name)) as f:
            return f.read()
    except OSError:
        die("%s not found; run from a checkout of the repository" % name)


def locate():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` that
    build.sbt compiles against."""
    global SPARK_JARS
    if os.environ.get("SPARK_HOME"):
        SPARK_JARS = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _repo_file("build.sbt"))
        if not m:
            die("build.sbt names no unmanagedBase; set SPARK_HOME")
        SPARK_JARS = m.group(1)
    if not os.path.isdir(SPARK_JARS):
        die("Spark jars not found at " + SPARK_JARS)


def sf_dir(sf):
    """A harness scale-factor directory: under $GRAFT_BENCH_TESTDATA
    when set, else where TESTDATA.md says it is."""
    if os.environ.get("GRAFT_BENCH_TESTDATA"):
        d = os.path.join(os.environ["GRAFT_BENCH_TESTDATA"], sf)
    else:
        dirs = {m.rstrip("/").rsplit("/", 1)[-1]: m.rstrip("/") for m in
                re.findall(r"\|\s*[0-9.]+\s*\|\s*`([^`]+)`", _repo_file("TESTDATA.md"))}
        d = dirs.get(sf, "")
    if not os.path.isdir(d):
        die("harness tables for %s not found (%r)" % (sf, d))
    return d


def cores():
    return len(os.sched_getaffinity(0))


# ---- build ------------------------------------------------------------

def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main, res, bench


def build():
    """Compile program + harness with scalac; reuse while sources match."""
    main, res, bench = sources()
    if not main:
        die("no program sources under src/main/scala; run from a checkout")
    comp = sorted(glob.glob(os.path.join(SPARK_JARS, "scala-compiler-2.13*.jar")) +
                  glob.glob(os.path.join(SPARK_JARS, "scala-library-2.13*.jar")) +
                  glob.glob(os.path.join(SPARK_JARS, "scala-reflect-2.13*.jar")))
    if len(comp) != 3:
        die("scala 2.13 compiler jars not found under " + SPARK_JARS)
    h = hashlib.sha256()
    for p in main + res + bench + comp:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(comp),
             "scala.tools.nsc.Main", "-nowarn", "-classpath",
             os.path.join(SPARK_JARS, "*"), "-d", tmp, "@" + args_file],
            stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die("compile failed (see %s)" % log)
    rroot = os.path.join(ROOT, "src/main/resources")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, rroot))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ---- one run ----------------------------------------------------------

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


# The serial collector sizes the heap from what is live after a full
# collection, not from pause times, so the resident size follows what
# the program allocates and holds and not the host's load: with G1,
# whose heap grows when collections run slowly, runs of the same work
# read between ~1.5 and ~2.2 GB. Its collections run on one thread and
# no concurrent collector thread competes with Spark's. The young
# generation is fixed (512 MB) and the old one starts at 256 MB; -Xmx
# is only a ceiling. Smoke runs go side by side, so they get less.
JVM_HEAP = ["-XX:+UseSerialGC", "-Xms768m", "-Xmn512m", "-Xmx3g",
            # compiler threads live as long as the JVM, so the time
            # Ops.cpuNs leaves out stays in view
            "-XX:-UseDynamicNumberOfCompilerThreads"]


def run_jvm(classes, run_dir, params, heap):
    """Start the harness JVM; returns (exit code, peak RSS in MB)."""
    pfile = os.path.join(run_dir, "params.json")
    with open(pfile, "w") as f:
        json.dump(params, f)
    cmd = ["java"] + heap
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "org.apache.spark.graftbench.Main", pfile]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT)
        killer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        killer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            killer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def verified_key(name, sf):
    """Where the digest of a query's result lives once DuckDB has
    confirmed it: keyed by the program build (whose sources hold the
    oracle SQL), the query and the table files it reads."""
    h = hashlib.sha256(open(os.path.join(BUILD, "classes.stamp"), "rb").read())
    h.update(name.encode())
    for t in checks.TABLES:
        st = os.stat(os.path.join(sf, t + ".parquet"))
        h.update(("%s:%d:%d" % (t, st.st_size, st.st_mtime_ns)).encode())
    return os.path.join(BUILD, "verified", h.hexdigest())


def remember_verified(keys, result, problems):
    """Record the digest of each result that passed its DuckDB
    comparison in this run. A later run of the same build dumps and
    compares only a result whose digest differs, and still fails on any
    other problem."""
    c = result["checks"]
    failed = {p.split(":", 1)[0].split("@", 1)[0] for p in problems}
    os.makedirs(os.path.join(BUILD, "verified"), exist_ok=True)
    for name in c["dumped"]:
        if name not in failed:
            with open(keys[name] + ".tmp", "w") as f:
                f.write(c["digests"][name])
            os.replace(keys[name] + ".tmp", keys[name])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def round_s(result, field):
    """Median over the rounds of the round's summed operation times
    (`ms` wall, `cpu_ms` processor), in seconds."""
    rounds = {}
    for o in result["ops"]:
        if o["ok"]:
            rounds.setdefault(o["round"], []).append(o[field])
    return median([sum(v) for v in rounds.values()]) / 1000.0


def end_to_end(workload, result, rss_mb):
    unit_ops = [o for o in result["ops"] if o["ok"] and o["kind"] == UNIT_OP[workload]]
    return {
        "setup_s": {"value": result["setup_ms"] / 1000.0, "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "round_cpu_s": {"value": round_s(result, "cpu_ms"), "unit": "s"},
        "op_cpu_p50_ms": {"value": median([o["cpu_ms"] for o in unit_ops]), "unit": "ms"},
        "live_heap_mb": {"value": result["live_heap_mb"], "unit": "MB"},
    }


def per_layer(result):
    layers = dict(result["layers"])
    layers["traced.round_s"] = round_s(result, "ms")
    layers["traced.round_cpu_s"] = round_s(result, "cpu_ms")
    return {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER}


def one_run(classes, workload, seed, seconds, trace, smoke):
    size = SMOKE if smoke else FULL
    run_dir = os.path.join(BUILD, "runs", "%s-s%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "data", "out"):
        os.makedirs(os.path.join(run_dir, d))
    data = os.path.join(run_dir, "data")
    out = os.path.join(run_dir, "out")
    params = dict(workload=workload, run_dir=run_dir, out_dir=out,
                  trace=bool(trace), cores=cores(),
                  warmup=not smoke,  # smoke checks outputs only
                  rounds=max(1, int(round(seconds / NOMINAL_ROUND_S[workload]))))
    try:
        if workload == "pubmed_keywords":
            truth = gen.pubmed_pages(os.path.join(data, "pages"), seed,
                                     size["articles"])
            years = sorted({a["year"] for a in truth})
            params.update(pages_dir=os.path.join(data, "pages"),
                          years=years)
        elif workload == "funnel_ingest":
            truth = gen.funnel_batches(os.path.join(data, "batches"), seed,
                                       size["batches"], size["batch_size"])
            warm = gen.funnel_batches(os.path.join(data, "warm"), seed + 7919, 1, 20)
            params.update(batches_dir=os.path.join(data, "batches"),
                          warm_batches_dir=os.path.join(data, "warm"),
                          n_batches=size["batches"],
                          warm_probe_term=warm["terms"][0],
                          probe_terms=truth["terms"])
        else:
            mix = json.load(open(os.path.join(HERE, "query_mix.json")))
            queries = mix["queries"][:6] if smoke else mix["queries"]
            for q in queries:
                q["sf_dir"] = sf_dir("sf0.001" if smoke else q.get("sf", "sf0.1"))
            verified = {q["name"]: verified_key(q["name"], q["sf_dir"]) for q in queries}
            known = {n: open(k).read() for n, k in verified.items() if os.path.exists(k)}
            truth = dict(queries=[dict(name=q["name"], sf_dir=q["sf_dir"]) for q in queries],
                         oracle_cache=os.path.join(BUILD, "oracle"), verified=known)
            params.update(warm_sf_dir=sf_dir("sf0.01"), verified=known,
                          queries=[dict(name=q["name"], tables=q["tables"],
                                        sf_dir=q["sf_dir"]) for q in queries])
        params["launch_ms"] = int(time.time() * 1000)
        rc, rss = run_jvm(classes, run_dir, params, ["-Xmx1200m"] if smoke else JVM_HEAP)
        rfile = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(rfile):
            tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-6000:]
            sys.stderr.write(tail)
            die("harness JVM exited with code %d" % rc)
        result = json.load(open(rfile))
        if trace:
            spans = os.path.join(run_dir, "spans.json")
            tdir = os.path.join(BUILD, "traces")
            os.makedirs(tdir, exist_ok=True)
            shutil.copyfile(spans, os.path.join(tdir, "%s-s%d.json" % (workload, seed)))
        problems = checks.check(workload, truth, result, out)
        if workload == "query_mix":
            remember_verified(verified, result, problems)
        for p in problems[:40]:
            print("CHECK FAILED: " + p, file=sys.stderr)
        failed = [o for o in result["ops"] if not o["ok"]]
        for o in failed[:20]:
            print("OP FAILED: %s %s: %s %s" % (o["kind"], o["name"], o.get("error"),
                                               o.get("message")), file=sys.stderr)
        metrics = per_layer(result) if trace else end_to_end(workload, result, rss)
        return dict(correct=not problems, attempted=len(result["ops"]),
                    failed=len(failed), metrics=metrics)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; without --workload runs all three")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")
    locate()
    classes = build()
    if a.workload:
        r = one_run(classes, a.workload, a.seed, 1 if a.smoke else a.seconds,
                    a.trace, a.smoke)
        print(json.dumps(r))
        sys.exit(0 if r["correct"] and r["failed"] == 0 else 1)
    # smoke of every workload: one process each, side by side
    procs = [(w, subprocess.Popen([sys.executable, __file__, "--smoke", "--workload", w,
                                   "--seed", str(a.seed)], stdout=subprocess.PIPE, text=True))
             for w in WORKLOADS]
    ok = True
    for w, p in procs:
        out = p.communicate()[0].strip().splitlines()
        print(w + " " + (out[-1] if out else "no result"))
        ok = ok and p.returncode == 0
    print(json.dumps({"smoke_ok": ok}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
