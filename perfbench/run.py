#!/usr/bin/env python3
"""Benchmark of the GTFS importer and its consumer reads.

    python3 perfbench/run.py --workload import_cycle|consumer_reads \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the importer's thin
jar (`sbt package` at the root) and the harness (`perfbench/harness`),
then imports a fixed base feed with `bin/graft-importer` to make the
base store (see `base_store`). Both are cached under `.bench_build/`
and redone when a source changes.

Workloads (one client, closed loop, one process at a time):

  import_cycle    the operator's cron job. Generates a seeded feed and
                  copies the base store, then runs the real importer
                  process on the feed (the timed operation): it must
                  publish, and its retention pass must drop the oldest
                  import. Then it re-runs the importer on the same zip,
                  which must skip; that run's time is the set-up time
                  (the fixed cost of every cron tick).
                  The traced run makes the same import inside the
                  harness JVM through `Import.importGtfsAtomically`.
  consumer_reads  set-up opens the newest import of the base store three
                  times (reopen, the consumer's swap); then, after an
                  untimed warm-up, whole rounds of a fixed mix of board,
                  nearby and day_trips reads (the seed orders them and
                  draws their parameters) in the harness JVM, each answer
                  checked against a reference computed without the views
                  code.

The gated cost of an operation is CPU time: for an import, the user and
system time of the importer process, which exists for that import only;
for a read, the CPU time of the client thread and of Spark's task
threads while it runs (the JIT and GC threads of the long-lived harness
JVM are left out: their work lags the read that caused it, so it would
be charged to whichever reads follow).

The last stdout line is the result object; the line before it carries
the named per-workload metrics, the host stamp and the sample counts.
With --trace 1 the run reports per-layer metrics instead, and writes
its spans to `.bench_build/traces/`.
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
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
HARNESS = HERE / "harness"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import gen_feed  # noqa: E402

PREFIX = "gtfs"
BASE_SEED = 0
OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
POSTPROCESSING_SQL = (
    "CREATE OR REPLACE TEMP VIEW stop_departures AS\n"
    "  SELECT stop_id, count(*) AS n FROM stop_times GROUP BY stop_id;\n"
    "SELECT count(*) AS n_stops FROM stop_departures;\n")

# The gated operation cost is CPU time, not wall time: on a shared host a
# neighbour's load stretches wall time several times more than CPU time,
# which the kernel counts without the time a vCPU is preempted. Wall times
# (import_s, skip_s, the read latencies) are printed on the line before
# the result.
END_TO_END = {"op_cpu_ms": "ms", "setup_s": "s"}
# untimed consumer reads before the measured rounds, so the JIT has settled
WARM_S = 4
CLEAN_STAGES = ["keep_spec_columns", "default_on_errs", "drop_errs",
                "check_null_coords", "remove_red_agencies", "remove_red_stops",
                "remove_red_routes", "remove_red_services", "minimize_services",
                "minimize_stoptimes", "min_shapes", "remove_red_shapes",
                "remove_red_trips", "delete_orphans"]
READ_OPS = ["board", "nearby", "day_trips"]
PER_LAYER = (
    ["pipeline.spark_start_s", "pipeline.skip_s", "pipeline.download_s", "pipeline.extract_s",
     "pipeline.digest_s", "pipeline.postprocess_s", "meta.lock_list_s",
     "meta.publish_s", "meta.retention_s", "meta.dbs_dropped",
     "meta.list_imports_ms", "gtfs.read_s", "gtfs.clean_s"]
    + ["gtfs.clean.%s_s" % s for s in CLEAN_STAGES]
    + ["gtfs.clean.rows_in", "gtfs.clean.rows_out", "gtfs.load_s",
       "gtfs.views.materialize_s", "gtfs.views.v2_rows"]
    + ["reads.%s.%s" % (op, m) for op in READ_OPS for m in ("build_ms", "exec_ms", "jobs")]
    + ["reads.reopen.build_ms", "reads.board.tasks", "spark.jobs", "spark.tasks", "spark.task_s",
       "spark.planning_s", "spark.shuffle_bytes", "spark.spill_bytes", "spark.gc_s",
       "self.import_s", "self.gtfs.clean_s", "self.reads_s", "trace.listener_s",
       "trace.overhead_pct"])

_children = set()
# when the measured part of the run began (after build and base store);
# every process it starts is given what remains of 170 s
RUN_START = time.perf_counter()


def remaining():
    return max(5.0, 170 - (time.perf_counter() - RUN_START))


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def heap():
    """Half of MemTotal, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "unknown"


def child_env(work):
    """Environment of the importer and harness JVMs: Spark's scratch
    space, temp files and heap inside the run's work dir and budget."""
    tmp = work / "jvm-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_DRIVER_MEM": heap(),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp,
    })
    return env


def run_process(cmd, env, cwd, timeout, log_path):
    """Run `cmd`, returning (seconds, resource usage, exit code, stdout)."""
    with open(log_path, "ab") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=err)
        _children.add(p)
        timer = threading.Timer(timeout, p.kill)
        timer.start()
        try:
            out = p.stdout.read()
            _, status, usage = os.wait4(p.pid, 0)
            seconds = time.perf_counter() - t0
        finally:
            timer.cancel()
            _children.discard(p)
        p.returncode = os.waitstatus_to_exitcode(status)
    return seconds, usage, p.returncode, out.decode(errors="replace")


def stop_children(*_):
    for p in list(_children):
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(130)


# ---- build ---------------------------------------------------------------

def stamp(*paths, extra=""):
    """Hash of the named files and of every file under the named dirs."""
    h = hashlib.sha256(extra.encode())
    files = []
    for p in paths:
        files += [q for q in p.rglob("*") if q.is_file() and "target" not in q.parts] \
            if p.is_dir() else [p]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def program_stamp():
    return stamp(ROOT / "build.sbt", ROOT / "bin" / "graft-importer",
                 ROOT / "project" / "build.properties", ROOT / "src" / "main")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the importer's
    own build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise RuntimeError("set SPARK_HOME: build.sbt names no Spark jar directory")
    return Path(m.group(1))


def program_jar():
    jars = [p for p in (ROOT / "target" / "scala-2.13").glob("postgisgtfsimporterspark_2.13-*.jar")
            if "-tests" not in p.name]
    return jars[0] if jars else None


def harness_jar():
    jars = list((HARNESS / "target" / "scala-2.13").glob("perfbench-harness_2.13-*.jar"))
    return jars[0] if jars else None


def sbt(cwd, *commands):
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=str(spark_jars()))
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                              "-Dsbt.repository.config=%s/.sbt/repositories "
                              "-Dsbt.offline=true -Xmx2g" % Path.home())
    with open(BUILD / "build.log", "ab") as out:
        code = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", *commands],
                               cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
    if code != 0:
        raise RuntimeError("sbt %s failed in %s (see %s)" % (commands, cwd, BUILD / "build.log"))


def build():
    """Build the importer's thin jar and the harness when their sources
    changed since the last build; returns the program's source stamp."""
    program = program_stamp()
    harness_src = stamp(HARNESS / "build.sbt", HARNESS / "project" / "build.properties",
                        HARNESS / "src", extra=program)
    built = (BUILD / "stamp").read_text().split() if (BUILD / "stamp").exists() else []
    if built[:1] != [program] or not program_jar():
        log("building the importer")
        sbt(ROOT, "package")
    if built[1:] != [harness_src] or not harness_jar():
        log("building the harness")
        sbt(HARNESS, "package")
    (BUILD / "stamp").write_text("%s %s" % (program, harness_src))
    return program


# ---- importer runs and checks ----------------------------------------------

def write_postprocessing(d):
    d.mkdir(parents=True, exist_ok=True)
    (d / "10-stop-departures.sql").write_text(POSTPROCESSING_SQL)


def importer(zip_path, store, work, tag, timeout=None):
    env = child_env(work)
    env.update({
        "GTFS_DOWNLOAD_USER_AGENT": "perfbench@example.invalid",
        "GTFS_DOWNLOAD_URL": zip_path.resolve().as_uri(),
        "GTFS_IMPORTER_DB_PREFIX": PREFIX,
        "GTFS_STORE_ROOT": str(store),
        "GTFS_TMP_DIR": str(work / "importer-tmp"),
        "GTFS_IMPORTER_DSN_FILE": str(work / "dsn.txt"),
        "GTFS_POSTPROCESSING_D_PATH": str(work / "postprocessing.d"),
        "GTFS_MATERIALIZE_VIEWS": "true",
    })
    seconds, usage, code, out = run_process(
        ["bash", str(ROOT / "bin" / "graft-importer")], env, work, timeout or remaining(),
        work / ("importer-%s.log" % tag))
    line = next((l for l in reversed(out.splitlines()) if l.startswith("{")), None)
    result = json.loads(line) if code == 0 and line else None
    return seconds, usage, result


def meta_imports(store):
    f = store / "meta" / "latest_successful_imports.tsv"
    rows = [l.split("\t") for l in f.read_text().splitlines() if l] if f.exists() else []
    return sorted(rows, key=lambda r: (-int(r[1]), r[0]))


def db_dirs(store):
    d = store / "dbs"
    return sorted(p.name for p in d.iterdir() if p.is_dir()) if d.exists() else []


def dir_bytes(d):
    return sum(p.stat().st_size for p in d.rglob("*") if p.is_file())


def entity_problems(db):
    """Cleaning guarantees every published import must hold."""
    import duckdb
    con = duckdb.connect()

    def t(e):
        return "read_parquet('%s/*.parquet')" % (db / e)
    checks = {
        "stops at (0,0)": "SELECT count(*) FROM %s WHERE stop_lat = 0 AND stop_lon = 0" % t("stops"),
        "stop_times on a missing trip": "SELECT count(*) FROM %s WHERE trip_id NOT IN (SELECT trip_id FROM %s)" % (t("stop_times"), t("trips")),
        "stop_times on a missing stop": "SELECT count(*) FROM %s WHERE stop_id NOT IN (SELECT stop_id FROM %s)" % (t("stop_times"), t("stops")),
        "trips on a missing route": "SELECT count(*) FROM %s WHERE route_id NOT IN (SELECT route_id FROM %s)" % (t("trips"), t("routes")),
        "trips on a missing service": "SELECT count(*) FROM %s WHERE service_id NOT IN (SELECT service_id FROM %s UNION SELECT service_id FROM %s)" % (t("trips"), t("calendar"), t("calendar_dates")),
        "upper-case feed_lang": "SELECT count(*) FROM %s WHERE feed_lang <> lower(feed_lang)" % t("feed_info"),
        "upper-case agency_lang": "SELECT count(*) FROM %s WHERE agency_lang <> lower(agency_lang)" % t("agency"),
        "upper-case translation language": "SELECT count(*) FROM %s WHERE language <> lower(language)" % t("translations"),
    }
    return ["%s: %d" % (name, n) for name, q in checks.items()
            for (n,) in [con.sql(q).fetchone()] if n]


def base_store(program):
    """The store every run starts from: a real import of the base feed,
    plus copies of it recorded as one and two hours older, so that
    newest-2 retention has an import to drop. Made once per build."""
    base = BUILD / "base"
    key = stamp(HERE / "gen_feed.py", HERE / "run.py", HARNESS / "src", extra=program)
    if (base / "READY").exists() and (base / "READY").read_text().split()[0] == key:
        return base / "store"
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    write_postprocessing(base / "postprocessing.d")
    log("importing the base feed")
    z = base / "feed.zip"
    gen_feed.write_zip(gen_feed.with_version(gen_feed.generate(BASE_SEED), "base"), str(z))
    _, _, result = importer(z, base / "store", base, "base", timeout=600)
    if not result or result["importSkipped"] or not result["newDb"]:
        raise RuntimeError("the base import did not publish: %s" % result)
    (base / "problems.json").write_text(json.dumps(
        entity_problems(base / "store" / "dbs" / result["newDb"])))
    older = [harness(base, ["add-older", "store=%s" % (base / "store"), "prefix=%s_" % PREFIX,
                            "hours=%d" % h], timeout=120)["older"] for h in (2, 1)]
    shutil.rmtree(base / "importer-tmp", ignore_errors=True)
    (base / "READY").write_text("\n".join([key] + older + [result["newDb"]]))
    return base / "store"


def base_problems():
    """Cleaning guarantees the base import breaks; every workload reads
    or copies it, so each reports them."""
    return ["base import: %s" % p for p in
            json.loads((BUILD / "base" / "problems.json").read_text())]


# ---- workloads -------------------------------------------------------------

def tail(values):
    """(percentile, value): the highest of p99.9/p99/p95/p90/p80/p75 with
    at least ten samples beyond it; the maximum when there is none."""
    xs = sorted(values)
    for p in (99.9, 99, 95, 90, 80, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            q = statistics.quantiles(xs, n=1000, method="inclusive")[int(p * 10) - 1]
            return p, q
    return 100, xs[-1]


def check_publish(res, before, store, work):
    """Problems with a fresh import's result `res`, given the recorded
    imports `before` it ran: it must publish, be named by the meta
    pointer and the DSN file, drop exactly the imports beyond the newest
    two, leave no other database, and hold the cleaning guarantees."""
    if not res or res["importSkipped"] or not res["newDb"]:
        return ["changed feed did not publish: %s" % res]
    bad = []
    recorded = [row[0] for row in meta_imports(store)]
    if recorded[:1] != [res["newDb"]]:
        bad.append("meta pointer %s does not name %s" % (recorded[:1], res["newDb"]))
    if res["newDb"] not in (work / "dsn.txt").read_text():
        bad.append("DSN file does not name %s" % res["newDb"])
    if not res["deletedDatabases"] or res["deletedDatabases"] != before[2:]:
        bad.append("retention dropped %s of %s" % (res["deletedDatabases"], before))
    if sorted(recorded) != db_dirs(store) or sorted(recorded) != sorted(before[:2] + [res["newDb"]]):
        bad.append("dbs %s, recorded %s: not the two newest of %s plus the new import"
                   % (db_dirs(store), recorded, before))
    return bad + entity_problems(store / "dbs" / res["newDb"])


def skip_run(work, store):
    """Re-run the importer on the feed it just published, which must
    skip. Returns (seconds, problems)."""
    seconds, _, res = importer(work / "feed.zip", store, work, "skip")
    if not res or not res["importSkipped"] or res["newDb"]:
        return seconds, ["unchanged feed did not skip: %s" % res]
    return seconds, []


def import_cycle(args, work, base):
    """One cron cycle: a fresh import of the seeded feed (the timed
    operation), then an unchanged-feed re-run, which must skip. The
    re-run is the importer's fixed cost (JVM and SparkSession start,
    download, digest, lock) with no import behind it, and is the
    workload's set-up time: one sample per run, as one more importer
    process per run does not fit the run time budget."""
    work.mkdir(parents=True)
    feed_bytes = gen_feed.write_zip(
        gen_feed.with_version(gen_feed.generate(args.seed), "seed-%d" % args.seed),
        str(work / "feed.zip"))
    write_postprocessing(work / "postprocessing.d")
    store = work / "store"
    shutil.copytree(base, store)
    if args.trace:
        return import_trace(args, work, store)

    before = [row[0] for row in meta_imports(store)]
    import_s, usage, res = importer(work / "feed.zip", store, work, "fresh")
    problems = check_publish(res, before, store, work)
    ratio = dir_bytes(store / "dbs" / res["newDb"]) / feed_bytes if res and res["newDb"] else 0.0
    setup_s, bad = skip_run(work, store)
    failed = bool(problems) + len(bad)
    problems += bad
    cpu_s = usage.ru_utime + usage.ru_stime
    metrics = {"op_cpu_ms": cpu_s * 1000, "setup_s": setup_s}
    named = {
        "import_s": (import_s, "s"),
        "import_cpu_s": (cpu_s, "s"),
        "import_rss_mb": (usage.ru_maxrss / 1024, "MB"),
        "db_bytes_per_feed_byte": (ratio, "ratio"),
        "skip_s": (setup_s, "s"),
        "fail_ratio": (failed / 2, "failed/attempted"),
        "setup_s": (setup_s, "s"),
    }
    detail = {"problems": problems[:10]}
    return metrics, named, detail, 2, failed


def import_trace(args, work, store):
    before = [row[0] for row in meta_imports(store)]
    out = harness(work, ["import-trace", "url=%s" % (work / "feed.zip").resolve().as_uri(),
                         "store=%s" % store, "tmp=%s" % (work / "importer-tmp"),
                         "pp=%s" % (work / "postprocessing.d"), "prefix=%s_" % PREFIX],
                  timeout=remaining())
    problems = check_publish(out["result"], before, store, work / "importer-tmp")
    # keep-spec-columns is idle on every feed the importer reads: its
    # reader already drops the columns the GTFS spec does not name
    problems += ["stage %s changed no row" % s for s, ok in out["stage_changed"].items()
                 if not ok and s != "keep_spec_columns"]
    if sorted(out["stage_changed"]) != sorted(CLEAN_STAGES):
        problems.append("traced stages %s" % sorted(out["stage_changed"]))
    if not out["views_jobs"] or not out["postprocess_jobs"]:
        problems.append("no Spark job attributed to the views (%d) or postprocessing (%d)"
                        % (out["views_jobs"], out["postprocess_jobs"]))
    # the real importer must recognise the traced publish as this feed
    skip_s, bad = skip_run(work, store)
    write_spans(args, out["spans"])
    layers = dict(out["layers"], **{"pipeline.skip_s": skip_s})
    detail = {"problems": problems + bad, "stage_changed": out["stage_changed"]}
    return layers, {}, detail, 2, bool(problems) + len(bad)


def harness(work, argv, timeout):
    cmd = ["java", *OPENS, "-Xmx%s" % heap(), "-Dspark.sql.session.timeZone=UTC",
           "-cp", "%s:%s:%s/*" % (harness_jar(), program_jar(), spark_jars()),
           "perfbench.Harness", *argv]
    _, _, code, out = run_process(cmd, child_env(work), work, timeout, work / "harness.log")
    line = next((l for l in reversed(out.splitlines()) if l.startswith("{")), None)
    if code != 0 or not line:
        raise RuntimeError("harness %s exited %d (see %s)" % (argv[0], code, work / "harness.log"))
    return json.loads(line)


def write_spans(args, spans):
    """Write the run's spans, with the self time of each layer: a span's
    duration minus what its child spans cover, summed per layer (the span
    name up to its last dot, e.g. gtfs.clean for gtfs.clean.drop_errs)."""
    covered = {}
    for s in spans:
        covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
    self_ms = {}
    for s in spans:
        layer = s["name"].rsplit(".", 1)[0] if "." in s["name"] else s["name"]
        self_ms[layer] = self_ms.get(layer, 0.0) + s["end_ms"] - s["start_ms"] - covered.get(s["id"], 0.0)
    d = BUILD / "traces"
    d.mkdir(parents=True, exist_ok=True)
    (d / ("%s-%d.json" % (args.workload, args.seed))).write_text(
        json.dumps({"self_ms_by_layer": self_ms, "spans": spans}))


def consumer_reads(args, work, base):
    work.mkdir(parents=True, exist_ok=True)
    out = harness(work, ["reads", "store=%s" % base, "prefix=%s_" % PREFIX,
                         "seed=%d" % args.seed, "seconds=%s" % args.seconds,
                         "warm=%s" % WARM_S,
                         "trace=%d" % args.trace], timeout=remaining())
    lat = out["latencies_ms"]
    all_ms = [x for op in READ_OPS for x in lat[op]]
    setup_s = out["spark_start_s"] + statistics.median(out["setup_s"])
    attempted, failed = out["attempted"], out["failed"]
    if args.trace:
        write_spans(args, out["spans"])
        layers = dict(out["layers"], **{"pipeline.spark_start_s": out["spark_start_s"]})
        return layers, {}, {"problems": out["mismatches"]}, attempted, failed
    p, q = tail(all_ms)
    measured_s = sum(all_ms) / 1000
    metrics = {"op_cpu_ms": out["cpu_s"] * 1000 / len(all_ms), "setup_s": setup_s}
    named = {
        "reads_per_s": (len(all_ms) / measured_s, "ops/s"),
        "read_p50_ms": (statistics.median(all_ms), "ms"),
        "read_cpu_ms": (metrics["op_cpu_ms"], "ms"),
        "read_tail_ms": (q, "ms"),
        "fail_ratio": (failed / max(1, attempted), "failed/attempted"),
        "setup_s": (setup_s, "s"),
    }
    for op in READ_OPS:
        named["%s_p50_ms" % op] = (statistics.median(lat[op]) if lat[op] else 0.0, "ms")
    named["reopen_p50_ms"] = (statistics.median(out["setup_s"]) * 1000, "ms")
    detail = {"reads": len(all_ms), "per_op": {op: len(lat[op]) for op in READ_OPS},
              "tail_percentile": p, "phases_s": out["phases_s"], "problems": out["mismatches"]}
    return metrics, named, detail, attempted, failed


WORKLOADS = {"import_cycle": import_cycle, "consumer_reads": consumer_reads}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log("the importer's sources are not in %s" % ROOT)
        return 2
    signal.signal(signal.SIGTERM, stop_children)
    BUILD.mkdir(exist_ok=True)
    load_start = loadavg()
    stamp = build()
    base = base_store(stamp)
    global RUN_START
    RUN_START = time.perf_counter()
    work = BUILD / "work" / ("%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    try:
        values, named, detail, attempted, failed = WORKLOADS[args.workload](args, work, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = PER_LAYER if args.trace else list(END_TO_END)
    units = {k: ("s" if k.endswith("_s") else "ms" if k.endswith("_ms") else
                 "%" if k.endswith("_pct") else "bytes" if k.endswith("_bytes") else "count")
             for k in PER_LAYER}
    units.update(END_TO_END)
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": units[k]} for k in wanted}
    host = {"nproc": os.cpu_count(), "heap": heap(), "loadavg_start": load_start,
            "loadavg_end": loadavg(), "commit": git_commit(), "source_stamp": stamp[:12]}
    detail["problems"] = base_problems() + detail.get("problems", [])
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "host": host, "named_metrics": {k: {"value": v, "unit": u}
                                                      for k, (v, u) in named.items()},
                      "detail": detail}))
    correct = failed == 0 and not detail["problems"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
