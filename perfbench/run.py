#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft pipeline.

    python3 perfbench/run.py --workload parse|corpus|backfill --seed N
                             --seconds S --trace 0|1

Run from the root of a checkout. On first use it compiles the program
and the benchmark's JVM side (perfbench/build.sbt) with sbt; later runs
reuse the build while the sources are unchanged. Each run:

  1. generates its inputs from --seed (perfbench/gen.py; corpus reads
     the committed copy of the sf0.1 documents);
  2. launches one fresh JVM, whose set-up is timed from JVM start until
     its Spark session (graft.GraftSession.get) is up;
  3. runs units (a parse pass, a corpus pass, a backfill slice) until
     --seconds have passed, at least one, on one closed-loop client:
     the batch driver, which starts the next unit when the last one is
     committed. The first unit is cold: it pays class loading, JIT and
     codegen, as each RunAll process does;
  4. checks every output against the generator's ground truth (corpus:
     against committed result hashes), records cleanliness telemetry
     and writes a report under perfbench/.work/reports/;
  5. prints as its last line {"correct", "attempted", "failed",
     "metrics"}: the end-to-end metrics with --trace 0, the per-layer
     metrics of a separate traced run with --trace 1.

A failed unit or a wrong output makes the run fail: the result line
then carries no metrics and the exit code is 1. See METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

# The operator query over the sf0.1 document corpus. The other corpus
# queries do not fit the run budget or write fixed /tmp stores (a run
# writes only inside its checkout); see METRICS.md.
CORPUS_QUERIES = ["llm01_corpus_pipeline"]
CORPUS_DATA = os.path.join(BENCH, "data", "sf0.1")
CORPUS_HASHES = os.path.join(BENCH, "corpus_hashes.json")

# backfill (not in BENCHMARK.json): slices in RunAll.runMany order, one
# unit each; one cold slice already outlasts --seconds 60
BACKFILL_SLICES = [("ncaa_1", 2024), ("ncaa_2", 2024), ("ncaa_3", 2024), ("ncaa_1", 2023)]
BACKFILL_GAMES = 40
# parse: one season of about 100k plays in 8 files
PARSE_GAMES = 1150
PARSE_FILES = 8

SPAN_METRICS = ["span_s", "task_cpu_s", "idle_s", "jobs", "tasks", "shuffle_mb", "spill_mb",
                "max_task_share"]
# per-layer metrics of the listed workloads: span -> the suffixes it
# reports (backfill's spans are in its report only)
LAYER_SPANS = {
    "pbp.parse": SPAN_METRICS, "pbp.pitchers": SPAN_METRICS, "pbp.names": SPAN_METRICS,
    "io.write": SPAN_METRICS[:5],
}
QUERY_METRICS = ["span_s", "task_cpu_s", "scans"]
COUNTS = [("pbp.names.resolved_ratio", "ratio"), ("io.files_written", "count"),
          ("io.written_mb", "MB"), ("util.rdds_left", "count"), ("util.blocks_left", "count"),
          ("util.cached_mb_peak", "MB"), ("spark.plan_s", "s"), ("spark.codegen_s", "s"),
          ("spark.gc_s", "s"), ("spark.tasks", "count"), ("trace.wall_s", "s"),
          ("trace.uncovered_share", "ratio")]
UNITS = {"span_s": "s", "task_cpu_s": "s", "idle_s": "s", "jobs": "count", "tasks": "count",
         "shuffle_mb": "MB", "spill_mb": "MB", "max_task_share": "ratio", "scans": "count"}


def per_layer_names():
    names = [(f"{span}.{m}", UNITS[m]) for span, ms in LAYER_SPANS.items() for m in ms]
    names += [(f"queries.{q}.{m}", UNITS[m]) for q in CORPUS_QUERIES for m in QUERY_METRICS]
    return names + COUNTS


END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"), ("rows_per_s", "rows/s")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "spark"), "jars")


def build():
    stamp_file = os.path.join(WORK, "build.stamp")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building (sbt compile in perfbench/) ...")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        log(f"build failed (exit {rc}); see perfbench/.work/build.log")
        sys.exit(3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return classes


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(classes, tmp):
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_jars(), "*")])
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx4g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dderby.system.home={tmp}", "-cp", cp, "perfbench.Main"])


# ------------------------------------------------------------ telemetry

class Telemetry(threading.Thread):
    """Load average and other live JVMs, sampled twice a second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.load_start = os.getloadavg()[0]
        self.load_max = self.load_start
        self.others_start = self.other_jvms()
        self.others_max = len(self.others_start)
        self.seen = set(self.others_start)
        self.stop_flag = threading.Event()

    def other_jvms(self):
        found = set()
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    argv0 = f.read().split(b"\0", 1)[0]
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            # the benchmark's own JVMs are its children
            if os.path.basename(argv0) == b"java" and ppid != os.getpid():
                found.add(int(pid))
        return found

    def run(self):
        while not self.stop_flag.wait(0.5):
            others = self.other_jvms()
            self.seen |= others
            self.others_max = max(self.others_max, len(others))
            self.load_max = max(self.load_max, os.getloadavg()[0])

    def summary(self):
        self.stop_flag.set()
        return {"load_start": self.load_start, "load_max": self.load_max,
                "load_end": os.getloadavg()[0], "other_jvms_start": len(self.others_start),
                "other_jvms_max": self.others_max, "other_jvms_seen": len(self.seen),
                "contaminated": bool(self.seen)}


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed):
    """Return (data dir, input metadata)."""
    import gen
    if workload == "corpus":
        return CORPUS_DATA, {"queries": CORPUS_QUERIES}
    if workload == "parse":
        return generate_once(f"parse-{seed}", lambda d: gen.generate(
            seed, d, "ncaa_1", 2024, PARSE_GAMES, PARSE_FILES))

    def slices_of(d):
        metas = [gen.generate(seed, os.path.join(d, f"{i:02d}__{div}__{y}"), div, y,
                              BACKFILL_GAMES) for i, (div, y) in enumerate(BACKFILL_SLICES)]
        return {"slices": metas, "plays": [m["plays"] for m in metas]}
    return generate_once(f"backfill-{seed}", slices_of)


def generate_once(key, make):
    """Generate into perfbench/.work/data/<key> unless already there."""
    data = os.path.join(WORK, "data", key)
    done = os.path.join(data, "meta.json")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        meta = make(data)
        with open(done, "w") as f:
            json.dump(meta, f)
    with open(done) as f:
        return data, json.load(f)


# ---------------------------------------------------------------- checks

def connect():
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    return con


def pq_glob(path):
    return os.path.join(path, "**", "*.parquet") if os.path.isdir(path) else path


def table_hash(con, path):
    """Order-independent content hash: row count and the sum of row
    hashes, with floating-point columns rounded to 6 decimals."""
    rel = con.sql(f"SELECT * FROM read_parquet('{pq_glob(path)}', hive_partitioning = true)")
    cols = [f'round("{c}", 6)' if str(t) in ("DOUBLE", "FLOAT") else f'"{c}"'
            for c, t in zip(rel.columns, rel.types)]
    n, s = con.sql(f"SELECT count(*), coalesce(sum(hash(row({', '.join(cols)}))), 0) "
                   f"FROM read_parquet('{pq_glob(path)}', hive_partitioning = true)").fetchone()
    return f"{n}:{s}"


def check_parsed(con, parsed, truth_dir):
    """Runs and outs per game, PA/H/HR/BB/K per batter id, against the
    generator's truth. Returns (failed check names, resolved ratio)."""
    p = f"read_parquet('{pq_glob(parsed)}')"
    failed = []
    bad_games = con.sql(f"""
        WITH p AS (SELECT contest_id, sum(runs_on_play) AS runs, sum(outs_on_play) AS outs
                   FROM {p} GROUP BY contest_id)
        SELECT count(*) FROM read_parquet('{truth_dir}/truth_games.parquet') t
        FULL OUTER JOIN p USING (contest_id)
        WHERE t.runs IS DISTINCT FROM p.runs OR t.outs IS DISTINCT FROM p.outs""").fetchone()[0]
    if bad_games:
        failed.append(f"games({bad_games} wrong)")
    bad_batters = con.sql(f"""
        WITH p AS (SELECT batter_id AS player_id, count(*) AS pa,
                     count(*) FILTER (event_type IN ('1B', '2B', '3B', 'HR')) AS h,
                     count(*) FILTER (event_type = 'HR') AS hr,
                     count(*) FILTER (event_type IN ('BB', 'IBB')) AS bb,
                     count(*) FILTER (event_type IN ('SO', 'SO_WP', 'SO_PB')) AS k
                   FROM {p} WHERE batter_name <> '' GROUP BY batter_id)
        SELECT count(*) FROM read_parquet('{truth_dir}/truth_batters.parquet') t
        FULL OUTER JOIN p USING (player_id)
        WHERE (t.pa, t.h, t.hr, t.bb, t.k) IS DISTINCT FROM (p.pa, p.h, p.hr, p.bb, p.k)
        """).fetchone()[0]
    if bad_batters:
        failed.append(f"batters({bad_batters} wrong)")
    slots, resolved = con.sql(f"""
        SELECT sum(s), sum(r) FROM (SELECT
          (batter_name <> '')::INT + (r1_name <> '')::INT + (r2_name <> '')::INT
            + (r3_name <> '')::INT + (player_name <> '')::INT AS s,
          (batter_name <> '' AND batter_id IS NOT NULL)::INT
            + (r1_name <> '' AND r1_id IS NOT NULL)::INT
            + (r2_name <> '' AND r2_id IS NOT NULL)::INT
            + (r3_name <> '' AND r3_id IS NOT NULL)::INT
            + (player_name <> '' AND player_id IS NOT NULL)::INT AS r
          FROM {p})""").fetchone()
    return failed, (resolved / slots if slots else 0.0)


BACKFILL_TABLES = ["parsed_pbp", "expected_runs", "linear_weights", "pbp_with_metrics",
                   "guts_constants", "batting_war", "pitching_war", "batting_team_war",
                   "pitching_team_war"]


def check_backfill(con, out, data, jvm):
    """The last slice's parsed_pbp against its truth; for every slice,
    the WAR tables hold one row per player of its season stats and the
    stage set RunAll returned is complete."""
    slice_dirs = sorted(os.listdir(data))
    slice_dirs = [d for d in slice_dirs if "__" in d][:len(jvm["units"])]
    failed, ratio = check_parsed(con, os.path.join(out, "parsed_pbp"),
                                 os.path.join(data, slice_dirs[-1]))
    stages = {}
    for name, rows in jvm["stages"]:
        stages[name] = rows
    for d in slice_dirs:
        _, division, year = d.split("__")
        for t in BACKFILL_TABLES:
            if f"{division}/{year}/{t}" not in stages:
                failed.append(f"{division}/{year}: no {t}")
        for war, stats in (("batting_war", "batting_stats"), ("pitching_war", "pitching_stats")):
            want = con.sql(f"SELECT count(*) FROM '{data}/{d}/{stats}.parquet'").fetchone()[0]
            got = stages.get(f"{division}/{year}/{war}")
            if got != want:
                failed.append(f"{division}/{year}/{war}: {got} rows, want {want}")
        boards = [n for n in stages if n.startswith(f"{division}/{year}/leaderboards/")]
        if len(boards) < 15:
            failed.append(f"{division}/{year}: {len(boards)} leaderboards")
    return failed, ratio


def check_corpus(con, out, queries):
    want = json.load(open(CORPUS_HASHES))["hashes"]
    failed, got = [], {}
    for q in queries:
        got[q] = table_hash(con, os.path.join(out, q))
        if got[q] != want.get(q):
            failed.append(f"{q}: hash {got[q]} != committed {want.get(q)}")
    return failed, got


def output_stats(out):
    files, size = 0, 0
    for d, _, fs in os.walk(out):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size / 1048576.0


def output_hashes(con, out, workload, jvm):
    if workload == "parse":
        return {"parsed_pbp": table_hash(con, os.path.join(out, "parsed_pbp"))}
    if workload == "backfill":
        tables = sorted({n.split("/", 2)[2] for n, _ in jvm["stages"]})
        return {t: table_hash(con, os.path.join(out, t)) for t in tables}
    return {}


# ------------------------------------------------------------------ runs

def launch(cmd, cwd, log_path, timeout):
    """Run the JVM; return (stdout lines, exit code)."""
    with open(log_path, "a") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        killer = threading.Timer(timeout, proc.kill)
        killer.start()
        try:
            lines = [line.rstrip("\n") for line in proc.stdout]
            rc = proc.wait()
        finally:
            killer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return lines, rc


def fail(reason, attempted=1, failed=1):
    log(f"FAILED: {reason}")
    print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                      "metrics": {}}))
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "parse", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--record-hashes", action="store_true",
                    help="corpus: record the result hashes (and keep the results and their "
                         "oracle SQL for tools/localverify.py) instead of checking them")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")
        sys.exit(2)
    if a.workload == "corpus" and not os.path.isdir(CORPUS_DATA):
        log("corpus data missing")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    classes = build()

    t_start = time.time()
    data, meta = make_inputs(a.workload, a.seed)
    gen_s = time.time() - t_start

    run_id = f"{a.workload}-{a.seed}-{'traced' if a.trace else 'plain'}"
    run_dir = os.path.join(WORK, "runs", run_id)
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(tmp)
    jvm_log = os.path.join(run_dir, "jvm.log")
    cmd = java_cmd(classes, tmp)

    tele = Telemetry()
    tele.start()
    args = ["--workload", a.workload, "--data", data, "--out", out, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed)]
    if a.workload == "corpus":
        args += ["--queries", ",".join(meta["queries"])]
        if a.record_hashes:
            args += ["--oracle-sql", os.path.join(out, "oracle_sql.json")]
    # a run of a listed workload ends within 180 s; backfill is run by hand
    budget = 3600 if a.workload == "backfill" else 175 - (time.time() - t_start)
    lines, rc = launch(cmd + args, run_dir, jvm_log, budget)
    telemetry = tele.summary()
    result = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not result:
        fail(f"benchmark JVM failed (exit {rc}); see {jvm_log}")
    jvm = json.loads(result[-1].split(" ", 1)[1])
    units = jvm["units"]
    failed_units = [u for u in units if not u["ok"]]

    con = connect()
    if a.workload == "corpus" and a.record_hashes:
        hashes = {q: table_hash(con, os.path.join(out, q)) for q in meta["queries"]}
        with open(CORPUS_HASHES, "w") as f:
            json.dump({"data": os.path.relpath(CORPUS_DATA, ROOT), "hashes": hashes}, f,
                      indent=1, sort_keys=True)
        mismatches, ratio = [], 0.0
    elif a.workload == "corpus":
        mismatches, hashes = check_corpus(con, out, meta["queries"]) if not failed_units else ([], {})
        ratio = 0.0
    else:
        if failed_units:
            mismatches, ratio = [], 0.0
        elif a.workload == "backfill":
            mismatches, ratio = check_backfill(con, out, data, jvm)
        else:
            mismatches, ratio = check_parsed(con, os.path.join(out, "parsed_pbp"), data)
        hashes = output_hashes(con, out, a.workload, jvm) if not failed_units else {}
    files, written_mb = output_stats(out)

    # input rows per unit: plays (backfill, parse) or corpus documents
    # read by every query of a pass
    if a.workload == "backfill":
        rows = sum(meta["plays"][:len(units)]) / len(units)
    elif a.workload == "parse":
        rows = meta["plays"]
    else:
        rows = len(meta["queries"]) * con.sql(
            f"SELECT count(*) FROM '{CORPUS_DATA}/documents.parquet'").fetchone()[0]
    wall = statistics.median(u["wall_s"] for u in units)
    cpu = statistics.median(u["cpu_s"] for u in units)
    e2e = {"setup_s": jvm["setup_s"], "wall_s": wall, "cpu_s": cpu, "rows_per_s": rows / wall}
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "units": units, "input_gen_s": gen_s, "input": meta,
        "fail_rate": len(failed_units) / len(units), "output_mismatches": len(mismatches),
        "mismatches": mismatches, "telemetry": {**telemetry,
            "calib_start_ms": jvm["calib_start_ms"], "calib_end_ms": jvm["calib_end_ms"]},
        "end_to_end": e2e, "output_hashes": hashes,
        "stages": jvm["stages"],
        "hygiene": {"rdds_left": jvm["rdds_left"], "blocks_left": jvm["blocks_left"]},
        "memory": {"peak_rss_mb": jvm["peak_rss_mb"]},
    }
    metrics = {}
    if a.trace:
        layers = jvm["layers"]
        per_layer = {}
        for name, unit in per_layer_names():
            head, _, suffix = name.rpartition(".")
            if head in layers and suffix in layers[head]:
                v = layers[head][suffix]
            else:
                v = {"pbp.names.resolved_ratio": ratio, "io.files_written": files,
                     "io.written_mb": written_mb, "util.rdds_left": jvm["rdds_left"],
                     "util.blocks_left": jvm["blocks_left"],
                     "util.cached_mb_peak": jvm["cached_mb_peak"], "spark.plan_s": jvm["plan_s"],
                     "spark.codegen_s": jvm["codegen_s"], "spark.gc_s": jvm["gc_s"],
                     "spark.tasks": jvm["tasks"], "trace.wall_s": wall,
                     "trace.uncovered_share": jvm["uncovered_share"]}.get(name, 0.0)
            per_layer[name] = {"value": v, "unit": unit}
        metrics = per_layer
        report["per_layer"] = {k: v["value"] for k, v in per_layer.items()}
        report["layers"] = layers
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}

    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    if a.trace:
        shutil.copy(os.path.join(out, "spans.json"),
                    os.path.join(WORK, "reports", f"{run_id}.spans.json"))
    with open(os.path.join(WORK, "reports", f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)

    log(f"{run_id}: units={len(units)} wall_s={wall:.3f} cpu_s={cpu:.3f} "
        f"fail_rate={report['fail_rate']} output_mismatches={len(mismatches)} "
        f"rdds_left={jvm['rdds_left']} blocks_left={jvm['blocks_left']} "
        f"contaminated={telemetry['contaminated']} load_max={telemetry['load_max']:.2f} "
        f"calib_ms={jvm['calib_start_ms']:.0f}/{jvm['calib_end_ms']:.0f}")
    if not a.record_hashes:
        shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if failed_units:
        fail("; ".join(u["error"] for u in failed_units), len(units), len(failed_units))
    if mismatches:
        fail("output mismatch: " + "; ".join(mismatches), len(units), len(units))
    if any(v["value"] is None for v in metrics.values()):
        fail("a metric could not be measured", len(units), len(units))
    print(json.dumps({"correct": True, "attempted": len(units), "failed": 0,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
