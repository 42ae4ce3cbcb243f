#!/usr/bin/env python3
"""Benchmark of the graft validation engine, driving its public entry points.

    python3 perfbench/run.py --workload full-snapshot --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark's own sources with sbt (perfbench/build.sbt) and generates the seed-free
corpus of the workload; later runs reuse both. Each measured run is its own
JVM, as a spark-submit of the CLI would be, on every core the process may use.

Workloads (the seed drives row order, file layout, which docs change and how,
and stream arrival order; the program only sees the generated parquet):
  full-snapshot      ValidatorApp.run, full mode, 10 checks, manifest, XML+JSON
                     reports, profile.enabled
  delta-snapshot     ValidatorApp.run, delta mode on snapshot N+1 (2% of docs
                     changed) against a prior full run of snapshot N, with
                     delta.prevCore, profile.enabled and drift.prevProfile
  stream-microbatch  StreamingValidator.violationStream over a parquet file
                     source (maxFilesPerTrigger=1) into a parquet sink

--trace 0 prints the end-to-end metrics; --trace 1 makes the same untraced
runs, then one traced run, and prints the per-layer metrics. The last line
of stdout is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

DOCS = 60_000            # docs per snapshot (full-snapshot, delta-snapshot)
SNAPSHOT_FILES = 8       # parquet files per snapshot
CHANGED_SHARE = 0.02     # docs that differ between snapshot N and N+1
STREAM_DOCS = 100_000    # docs streamed per run
STREAM_FILES = 200       # one file per micro-batch: p95 has 10 batches beyond it
SETUP_SAMPLES = 2        # set-ups timed per run (the measured JVM + setup-only JVMs)
HEAP = "4g"
CPUS = len(os.sched_getaffinity(0))
DEADLINE_S = 170         # a run's budget once built; the first run may build
FIRST_DEADLINE_S = 880

WORKLOADS = ("full-snapshot", "delta-snapshot", "stream-microbatch")
COLS = 'checkId, severity, docId, kind, value, expected, "check"'

# Spark spans of the traced run, each with the fields below; spans a workload
# does not run read 0 (idle layer).
SPANS = ("functions.row_local_core", "checks.from_core", "engine.snapshot_diff",
         "engine.persist", "engine.verdicts", "engine.commit", "stats.profile",
         "stats.profile_delta", "stats.drift", "report.render")
SPAN_FIELDS = ("wall_ms", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
               "stages", "serial_ms")
APP_STAGES = ("validate_persist", "core_persist", "verdicts", "manifest_commit",
              "profile", "drift", "reports")
VALIDATOR_TYPES = ("anyURI", "dateTime", "language", "unsignedInt", "boolean",
                   "dt_score")
PER_LAYER = (
    [f"{s}.{f}" for s in SPANS for f in SPAN_FIELDS]
    + ["functions.row_local_core.build_ms", "checks.from_core.build_ms",
       "engine.lineage_gate.wall_ms", "report.totals.wall_ms",
       "engine.metrics_artifact.wall_ms", "engine.dirty_share", "checks.cache_mb",
       "validators.ns_per_call"]
    + [f"validators.ns_per_call.{t}" for t in VALIDATOR_TYPES]
    + ["validators.calls_per_doc", "validators.est_cpu_ms"]
    + [f"app.stage.{s}.wall_ms" for s in APP_STAGES]
    + ["app.unstaged_ms", "trace.unstaged_span_ms", "trace.span_wall_ms",
       "trace.overhead_ratio"])

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class Deadline:
    def __init__(self, seconds):
        self.end = time.monotonic() + seconds

    def left(self):
        left = self.end - time.monotonic()
        if left <= 0:
            raise TimeoutError("run budget exhausted")
        return left


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found (set SPARK_HOME)")
    return home, jars


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def source_hash():
    """Hash of every source the build compiles, and of the build files."""
    h = hashlib.sha256()
    sources = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        sources += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for p in sources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def stamp_path():
    return os.path.join(HERE, "target", "perfbench.stamp")


def is_built(digest):
    return os.path.exists(stamp_path()) and open(stamp_path()).read() == digest


def build(spark_home, digest, deadline):
    """Compile the library and the benchmark's sources with sbt, offline."""
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, check=True, timeout=deadline.left())
    with open(stamp_path(), "w") as f:
        f.write(digest)


def java(args, jars, log_path, deadline, cwd):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(cwd, exist_ok=True)
    jvm = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # Fixed heap and generation sizes, and a metaspace threshold above what a
    # run loads (the default triggers a full collection at each step of class
    # loading), keep heap growth out of the timings and keep peak RSS from
    # following the collector's timing.
    cmd = [jvm, *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:MetaspaceSize=512m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", f"{classes_dir()}{os.pathsep}{os.path.join(jars, '*')}",
           "graft.engine.perfbench.Main", *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    env.pop("SPARK_GRAFT_MASTER", None)
    with open(log_path, "w") as log:
        subprocess.run(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, check=True, timeout=deadline.left())


def write_config(path, docs, snapshot, out, extra=()):
    with open(os.path.join(HERE, "validate.properties")) as f:
        text = f.read()
    text = text.replace("@DOCS@", docs).replace("@SNAPSHOT@", snapshot).replace("@OUT@", out)
    with open(path, "w") as f:
        f.write(text + "".join(f"{line}\n" for line in extra))


def template_settings():
    with open(os.path.join(HERE, "validate.properties")) as f:
        pairs = [l.split("=", 1) for l in f.read().splitlines()
                 if "=" in l and not l.lstrip().startswith("#")]
    return {k.strip(): v.strip() for k, v in pairs}


def canon_dir(workload):
    n = STREAM_DOCS if workload == "stream-microbatch" else DOCS
    return os.path.join(WORK, "canon", f"{workload}-{n}"), n


def ensure_canon(workload, jars, deadline):
    """The seed-free corpus and oracles (Inputs.canon), built once per size."""
    d, n = canon_dir(workload)
    if os.path.exists(os.path.join(d, "expected.json")):
        return d, n
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    # for the delta workload this is snapshot N's full run
    cfg = os.path.join(d, "prior.properties")
    write_config(cfg, os.path.join(d, "docs"), "snap-N", os.path.join(d, "prev_out"))
    java(["canon", workload, str(n), d, cfg], jars, os.path.join(d, "canon.log"), deadline,
         os.path.join(d, "cwd"))
    return d, n


# ---- seeded inputs ---------------------------------------------------------

def mutate(row, i, mode, seed):
    """Snapshot N+1's version of doc i: mode 0 edits text only, 1 adds a
    violation, 2 removes a planted one (docs with none get a text edit)."""
    spans = row["spans"]

    def set_text(kind, pred, to):
        for s in spans:
            if s["kind"] == kind and s["text"] is not None and pred(s["text"]):
                s["text"] = to
                return True
        return False

    def edit():
        return set_text("txt:note", lambda _: True, f"note {i} rev {seed}")

    if mode == 0:
        edit()
    elif mode == 1:
        (set_text("txt:count", lambda t: t != "abc", "abc")
         or set_text("txt:flag", lambda t: t != "T", "T") or edit())
    else:
        (set_text("txt:count", lambda t: t == "abc", "7")
         or set_text("txt:flag", lambda t: t == "T", "true")
         or set_text("txt:uri", lambda t: t == "http://x#a#b", f"http://example.org/doc/{i}")
         or set_text("txt:score", lambda t: t == "150", "50")
         or edit())
    return row


def make_inputs(workload, seed, canon, n):
    """Seeded inputs, cached per (workload, size, seed)."""
    d = os.path.join(WORK, "inputs", f"{workload}-{n}-{seed}")
    done = os.path.join(d, "done.json")
    if os.path.exists(done):
        return d, json.load(open(done))
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    shutil.rmtree(d, ignore_errors=True)
    table = pq.read_table(os.path.join(canon, "docs"))
    rng = np.random.default_rng(seed)
    info = {"docs": table.num_rows}
    if workload == "delta-snapshot":
        ids = np.array([int(x[4:]) for x in table.column("doc_id").to_pylist()])
        changed = rng.random(n) < CHANGED_SHARE
        modes = rng.integers(0, 3, n)
        mask = pa.array(changed[ids])
        rows = [mutate(r, int(r["doc_id"][4:]), int(modes[int(r["doc_id"][4:])]), seed)
                for r in table.filter(mask).to_pylist()]
        table = pa.concat_tables([table.filter(pa.compute.invert(mask)),
                                  pa.Table.from_pylist(rows, schema=table.schema)])
        info["changed_docs"] = len(rows)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    if workload == "stream-microbatch":
        out = os.path.join(d, "stream")
        files = STREAM_FILES
    else:
        out = os.path.join(d, "docs")
        files = SNAPSHOT_FILES
    os.makedirs(out)
    size = -(-table.num_rows // files)
    # the file source takes files in modification-time order: stamp them so
    # the seeded order is the arrival order
    t0 = time.time() - files
    for k in range(files):
        p = os.path.join(out, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * size, size), p, compression="snappy")
        os.utime(p, (t0 + k, t0 + k))
    with open(done, "w") as f:
        json.dump(info, f)
    return d, info


# ---- output checks -----------------------------------------------------------

def duck():
    import duckdb
    return duckdb.connect()


def committed_files(out):
    files = []
    with open(os.path.join(out, "manifest.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("type") == "files":
                files += rec["files"]
    return files


def parquet_list(files):
    return "[" + ",".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def multiset_diff(con, a, b):
    """Rows in a but not in b plus rows in b but not in a (with multiplicity)."""
    q = (f"SELECT count(*) FROM ((SELECT {COLS} FROM read_parquet({a}) EXCEPT ALL "
         f"SELECT {COLS} FROM read_parquet({b})) UNION ALL (SELECT {COLS} FROM "
         f"read_parquet({b}) EXCEPT ALL SELECT {COLS} FROM read_parquet({a})))")
    return con.sql(q).fetchone()[0]


def check_batch(workload, out, canon, oracle):
    """Returns a list of failed checks (empty when the run is correct)."""
    con = duck()
    errors = []
    files = committed_files(out)
    if not files:
        return ["no committed violation files"]
    if workload == "full-snapshot":
        want = json.load(open(os.path.join(canon, "expected.json")))["counts"]
        got = dict(con.sql(f"SELECT checkId, count(*) FROM read_parquet({parquet_list(files)}) "
                           "GROUP BY 1").fetchall())
        if got != want:
            errors.append(f"per-checkId counts differ: {sorted(set(got.items()) ^ set(want.items()))}")
    else:
        diff = multiset_diff(con, parquet_list(files),
                             f"'{os.path.join(oracle, '*.parquet')}'")
        if diff:
            errors.append(f"delta violations differ from the full run in {diff} rows")
    verdicts = con.sql("SELECT count(*) FROM read_parquet("
                       f"'{out}/verdicts/*/*.parquet')").fetchone()[0]
    cfg = template_settings()
    want_verdicts = (int(cfg["buckets"]) + 1) * len(cfg["checks"].split(","))
    if verdicts != want_verdicts:
        errors.append(f"{verdicts} verdict rows, expected (buckets + 1) x checks = {want_verdicts}")
    for r in ("report.xml", "report.json"):
        p = os.path.join(out, r)
        if not os.path.exists(p) or os.path.getsize(p) == 0:
            errors.append(f"missing {r}")
    return errors


def check_stream(out, canon):
    con = duck()
    sink = [p for p in glob.glob(os.path.join(out, "sink", "*.parquet"))]
    if not sink:
        return ["empty sink"]
    diff = multiset_diff(con, parquet_list(sink),
                         parquet_list(glob.glob(os.path.join(canon, "oracle", "*.parquet"))))
    return [f"streamed rows differ from rowLocalCore in {diff} rows"] if diff else []


def app_stage_ms(out):
    con = duck()
    return dict(con.sql("SELECT stage, sum(wall_ms) FROM read_parquet("
                        f"'{out}/metrics/*/*.parquet') GROUP BY 1").fetchall())


# ---- runs --------------------------------------------------------------------

def one_run(workload, seed, k, inputs, canon, jars, deadline, traced):
    """One JVM: a ValidatorApp run (or one streaming query), then its checks."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{k}{'-traced' if traced else ''}")
    out = os.path.join(run_dir, "out")  # everything the run writes, and nothing else
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out)
    cfg = os.path.join(run_dir, "run.properties")
    result = os.path.join(run_dir, "result.json")
    oracle = os.path.join(inputs, "oracle")
    extra, oracle_args = [], []
    if workload == "delta-snapshot":
        prior = json.load(open(os.path.join(canon, "expected.json")))
        extra = [f"delta.prevDocuments = {os.path.join(canon, 'docs')}",
                 f"delta.prevCore = {prior['prev_core']}",
                 f"drift.prevProfile = {os.path.join(canon, 'prev_out')}"]
        if not os.path.exists(os.path.join(oracle, "_SUCCESS")):
            # the oracle: full validation of the same snapshot, once per seed, untimed
            oracle_args = [oracle]
    docs = os.path.join(inputs, "stream" if workload == "stream-microbatch" else "docs")
    write_config(cfg, docs, f"snap-{workload}-{seed}", out, extra)
    java(["run", workload, cfg, inputs, out, result, "1" if traced else "0", *oracle_args],
         jars, os.path.join(run_dir, "jvm.log"), deadline, os.path.join(run_dir, "cwd"))
    r = json.load(open(result))
    if workload == "stream-microbatch":
        r["errors"] = check_stream(out, canon)
    else:
        r["errors"] = check_batch(workload, out, canon, oracle)
        r["stages"] = app_stage_ms(out) if not traced else {}
    r["stored_bytes"] = sum(os.path.getsize(os.path.join(base, n))
                            for base, _, names in os.walk(out) for n in names)
    return r


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(len(s) * q) - 1))]


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MiB"
    if "ns_per_call" in name:
        return "ns"
    if name.endswith(".stages") or name.endswith("calls_per_doc") or name.endswith(".tasks"):
        return "count"
    return "ratio"


def end_to_end(workload, runs, setups, docs):
    run_s = statistics.median(r["run_s"] for r in runs)
    m = {
        "setup_s": (statistics.median(setups), "s"),
        "run_s": (run_s, "s"),
        "docs_per_s": (docs / run_s, "1/s"),
        "peak_rss_mb": (statistics.median(r["peak_rss_mb"] for r in runs), "MiB"),
        "stored_bytes_per_doc": (statistics.median(r["stored_bytes"] for r in runs) / docs, "B"),
    }
    if workload == "stream-microbatch":
        batches = [b for r in runs for b in r["batch_ms"]]
        m["batch_p50_ms"] = (statistics.median(batches), "ms")
        m["batch_p95_ms"] = (pct(batches, 0.95), "ms")
    return m


def per_layer(workload, runs, traced):
    """Per-layer metrics of the traced run, set against the untraced runs."""
    t = traced
    run_s = statistics.median(r["run_s"] for r in runs)
    if workload == "stream-microbatch":
        nb = len(t["batch_ms"])
        m = {f"streaming.{name}": statistics.median(t[f"duration.{key}"]) for name, key in (
            ("query_planning_ms", "queryPlanning"), ("add_batch_ms", "addBatch"),
            ("wal_commit_ms", "walCommit"), ("latest_offset_ms", "latestOffset"))}
        m["streaming.batch.cpu_ms"] = t["streaming.query.cpu_ms"] / nb
        m["streaming.batch.gc_ms"] = t["streaming.query.gc_ms"] / nb
        m["streaming.batch.tasks"] = t["streaming.batch.tasks_total"] / nb
        m.update({k: t[k] for k in PER_LAYER if k.startswith("validators.")})
    else:
        # idle layers (no span of that name on this workload) read 0
        m = {k: t.get(k, 0.0) for k in PER_LAYER}
        stages = {s: statistics.median(r["stages"].get(s, 0) for r in runs) for s in APP_STAGES}
        m.update({f"app.stage.{s}.wall_ms": v for s, v in stages.items()})
        m["app.unstaged_ms"] = run_s * 1000 - sum(stages.values())
    m["trace.overhead_ratio"] = t["run_s"] / run_s
    return {k: (v, unit_of(k)) for k, v in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"library sources not found under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    spark_home, jars = spark_jars()

    digest = source_hash()
    built = is_built(digest)
    first = not built or not os.path.exists(os.path.join(canon_dir(a.workload)[0], "expected.json"))
    deadline = Deadline(FIRST_DEADLINE_S if first else DEADLINE_S)
    phases, t0 = {}, time.monotonic()
    if not built:
        build(spark_home, digest, deadline)
    canon, n = ensure_canon(a.workload, jars, deadline)
    phases["prepare_s"] = time.monotonic() - t0
    t0 = time.monotonic()
    inputs, info = make_inputs(a.workload, a.seed, canon, n)
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    phases["inputs_s"] = time.monotonic() - t0

    runs, failed = [], 0
    t0 = time.monotonic()
    while not runs or time.monotonic() - t0 < a.seconds:
        r = one_run(a.workload, a.seed, len(runs), inputs, canon, jars, deadline, traced=False)
        if r["errors"]:
            failed += 1
            print(f"perfbench: run failed its checks: {r['errors']}", file=sys.stderr)
        runs.append(r)
    phases["runs_s"] = time.monotonic() - t0
    docs = runs[0].get("docs", info["docs"])

    t0 = time.monotonic()
    if a.trace == 0:
        setups = [r["setup_s"] for r in runs]
        cfg = os.path.join(WORK, "runs", "setup.properties")
        write_config(cfg, os.path.join(inputs, "docs"), "setup", os.path.join(WORK, "runs", "setup"))
        while len(setups) < SETUP_SAMPLES:
            res = os.path.join(WORK, "runs", f"setup-{len(setups)}.json")
            java(["setup", cfg, res], jars, res + ".log", deadline, os.path.join(WORK, "runs", "cwd"))
            setups.append(json.load(open(res))["setup_s"])
        metrics = end_to_end(a.workload, runs, setups, docs)
        attempted = len(runs)
    else:
        setups = []
        t = one_run(a.workload, a.seed, 0, inputs, canon, jars, deadline, traced=True)
        if t["errors"]:
            failed += 1
            print(f"perfbench: traced run failed its checks: {t['errors']}", file=sys.stderr)
        metrics = per_layer(a.workload, runs, t)
        attempted = len(runs) + 1
    phases["after_s"] = time.monotonic() - t0

    print(json.dumps({"workload": a.workload, "seed": a.seed, "docs": docs, "cores": CPUS,
                      "heap": HEAP, "run_s": [r["run_s"] for r in runs], "setup_s": setups,
                      "inputs": info, "phases": phases, "env": runs[0]["env"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
