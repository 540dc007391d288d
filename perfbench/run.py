#!/usr/bin/env python3
"""Run one benchmark workload of the voting engine and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark program from source (with the Scala
compiler of the local Spark install) when the sources changed, runs the workload in its own JVM, checks the
program's outputs (DuckDB re-computations for `dashboard` and
`analytics`; batch twins inside the JVM for `vote_stream`), and prints
as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics, with `--trace 1`
the per-layer ones. See perfbench/README.md for the definitions.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "classes")
WORK_ROOT = os.path.join(HERE, ".work")
STAMP = os.path.join(WORK_ROOT, "build.stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "2g"
DEADLINE_S = 170  # the whole run, build excluded
BUILD_TIMEOUT_S = 800

WORKLOADS = ["dashboard", "vote_stream", "analytics"]

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "op_geomean_s": "s",
    "throughput_per_s": "1/s",
    "peak_heap_mb": "MB",
}

DASHBOARD_CALLS = [
    "totalVotes", "votesByCandidate", "historicalTrends", "votesByState",
    "leadingPartyByState", "genderDistribution", "ageDistribution",
    "candidateInfo", "stateVotingDetails", "candidateImage", "generatorStats"]

ANALYTICS_SLICE = ["emb_principal_dir", "dq_fk_orphans"]

STREAM_QUERIES = ["dedup", "tally", "turnout"]
STREAM_FIELDS = [
    ("batches", "count"), ("rows_per_batch_p50", "count"), ("trigger_ms_p50", "ms"),
    ("addBatch_ms_p50", "ms"), ("source_ms_p50", "ms"), ("planning_ms_p50", "ms"),
    ("commit_ms_p50", "ms"), ("state_rows_end", "count"), ("state_mem_bytes_end", "bytes"),
    ("catchup_rows_per_s", "1/s")]


def per_layer():
    """Every per-layer metric name with its unit, in report order."""
    m = [("engine.leaderboard_rollup.exec_s", "s"),
         ("catalyst.optimize_s", "s"), ("catalyst.plan_s", "s")]
    m += [(f"streaming.{q}.{f}", u) for q in STREAM_QUERIES for f, u in STREAM_FIELDS]
    m += [("streaming.dedup.kept_share", "fraction"), ("streaming.empty_batch_share", "fraction"),
          ("streaming.backlog_end_votes", "count"),
          ("sources.gen_s", "s"), ("sources.gen_late_max_s", "s"),
          ("sinks.rollup_bytes_end", "bytes"), ("sinks.read_retries", "count"),
          ("operators.construct_s", "s"), ("operators.exec_s", "s"),
          ("operators.jobs_construct", "count"), ("operators.jobs_exec", "count"),
          ("operators.driver_gap_s", "s")]
    for q in ANALYTICS_SLICE:
        m += [(f"operators.{q}.wall_s", "s"), (f"operators.{q}.jobs", "count")]
    m += [(f"spark.{k}", u) for k, u in [
        ("jobs", "count"), ("tasks", "count"), ("task_run_s", "s"), ("shuffle_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("gc_s", "s"), ("task_failures", "count")]]
    m += [("trace.latency_p50_s", "s")]
    return m


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _die_with_parent():
    # prctl option 1 sets the parent-death signal: the child is killed
    # when this process ends, however it ends, so no JVM outlives the
    # benchmark
    import ctypes
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)


def run_child(cmd, cwd, log_path, timeout):
    """Run `cmd` with its output in `log_path`; returns its exit code, or
    None when it ran out of time. The child is stopped and waited for on
    every path out of here."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, preexec_fn=_die_with_parent)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def log_tail(path):
    with open(path, errors="replace") as fh:
        return fh.read()[-3000:]


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return files, h.hexdigest()


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java")


def build():
    """Compile the library and the benchmark program into CLASSES with the
    Scala 2.13 compiler that ships with Spark, unless the sources are
    unchanged since the last build. Needs only java and the Spark jars
    (no sbt, no dependency cache), and writes only under perfbench/."""
    if not os.path.isdir(LIB_SRC):
        die(f"library sources not found at {os.path.relpath(LIB_SRC, ROOT)}; "
            "run from the root of a checkout of the repository")
    if java() is None:
        die("java is required (JAVA_HOME or PATH)")
    jars = spark_jars()
    scala = {n: glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
             for n in ("compiler", "library", "reflect")}
    if not all(scala.values()):
        die(f"no Spark install with a Scala 2.13 compiler at {jars} (set SPARK_JARS_DIR)")
    files, digest = source_digest()
    main_class = os.path.join(CLASSES, "perfbench", "Main.class")
    if os.path.exists(main_class) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    tmp = os.path.join(WORK_ROOT, "build-tmp")
    out = CLASSES + ".new"
    for d in (tmp, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler_cp = os.pathsep.join(scala[n][0] for n in ("compiler", "library", "reflect"))
    log = os.path.join(tmp, "build.log")
    t0 = time.time()
    rc = run_child(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn", "-d", out,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        HERE, log, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(os.path.join(out, "perfbench", "Main.class")):
        sys.stderr.write(log_tail(log))
        die("build timed out" if rc is None else "build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(os.path.dirname(CLASSES), exist_ok=True)
    os.rename(out, CLASSES)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def spark_jars():
    """The jars of the local Spark install: $SPARK_JARS_DIR, else
    $SPARK_HOME/jars, else the directory the repository's own build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_JARS_DIR" in os.environ:
        return os.environ["SPARK_JARS_DIR"]
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else "jars"


# ---------------------------------------------------------------- run

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + ADD_OPENS + [
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop-tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
        "perfbench.Main", "--work", work] + args)
    log = os.path.join(work, "jvm.log")
    rc = run_child(cmd, work, log, deadline - time.time())
    if rc is None:
        die("workload timed out")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(log_tail(log))
        die(f"workload JVM failed (exit {rc})")
    with open(result) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- checks

def norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def norm_rows(cols, rows):
    """Columns sorted by name, rows sorted by value (tools/check.py rules)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm_cell(r[i]) for i in order) for r in rows), key=repr)


def fetch(con, sql):
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def spark_rows(con, path, fault):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise RuntimeError("no Spark output")
    cols, rows = fetch(con, f"SELECT * FROM read_parquet({files!r})")
    if fault and rows:
        # a deliberately wrong result: one row lost
        rows = rows[1:]
    return cols, rows


def compare(name, s_cols, s_rows, d_cols, d_rows):
    """None when equal, else a one-line reason."""
    if sorted(s_cols) != sorted(d_cols):
        return f"{name}: columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    sn, dn = norm_rows(s_cols, s_rows), norm_rows(d_cols, d_rows)
    if len(sn) != len(dn):
        return f"{name}: rows spark={len(sn)} duckdb={len(dn)}"
    bad = [(a, b) for a, b in zip(sn, dn) if a != b]
    if bad:
        return f"{name}: {len(bad)}/{len(sn)} rows differ; first spark={bad[0][0]} duckdb={bad[0][1]}"
    return None


def dashboard_sql(first, last):
    """The dashboard surface (SURVEY.md section 2.1 semantics) in DuckDB."""
    joined = ("vote v JOIN voter r ON r.voter_id = v.voter_id "
              "JOIN candidate c ON c.candidate_id = v.candidate_id")
    pct = "spark_round(CAST({n} AS DOUBLE) * 100.0 / {d}, 2)"
    return {
        "totalVotes": """
            WITH h AS (SELECT date_trunc('hour', voted_at) AS hour, count(*) AS total_votes,
                              max(voted_at) AS last_update FROM vote GROUP BY 1)
            SELECT total_votes, last_update,
                   total_votes - lag(total_votes) OVER (ORDER BY hour) AS hourly_change
            FROM h ORDER BY hour DESC LIMIT 1""",
        # hourly_change is checked apart: the reference keeps ONE row of
        # the latest hour's changes, and which candidate's row is kept is
        # unspecified when several candidates voted in that hour
        "votesByCandidate": f"""
            WITH hourly AS (SELECT v.candidate_id, date_trunc('hour', v.voted_at) AS hour, count(*) AS n
                            FROM vote v JOIN candidate c ON c.candidate_id = v.candidate_id GROUP BY 1, 2),
                 ch AS (SELECT candidate_id, hour,
                               n - lag(n) OVER (PARTITION BY candidate_id ORDER BY hour) AS change
                        FROM hourly),
                 latest AS (SELECT candidate_id, change FROM ch WHERE hour = (SELECT max(hour) FROM ch)),
                 tally AS (SELECT c.candidate_id, c.first_name, c.last_name, c.party, count(*) AS vote_count
                           FROM vote v JOIN candidate c ON c.candidate_id = v.candidate_id GROUP BY 1, 2, 3, 4)
            SELECT first_name, last_name, party, vote_count,
                   {pct.format(n='vote_count', d='(SELECT count(*) FROM vote)')} AS percentage,
                   row_number() OVER (ORDER BY vote_count DESC) AS rank,
                   coalesce(l.change, 0) AS hourly_change
            FROM tally t LEFT JOIN latest l ON l.candidate_id = t.candidate_id""",
        "historicalTrends": """
            WITH run AS (SELECT v.voted_at, c.first_name || ' ' || c.last_name AS candidate_name, c.party,
                                count(*) OVER (PARTITION BY v.candidate_id ORDER BY v.voted_at
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
                         FROM vote v JOIN candidate c ON c.candidate_id = v.candidate_id)
            SELECT date_trunc('minute', voted_at) AS vote_time, candidate_name, party,
                   max(running) AS total_votes
            FROM run GROUP BY 1, 2, 3""",
        "votesByState": f"""
            SELECT r.address_state, count(*) AS vote_count,
                   array_to_string(list_sort(list_distinct(list(c.party))), ', ') AS parties
            FROM {joined} GROUP BY 1""",
        "leadingPartyByState": f"""
            WITH s AS (SELECT r.address_state, c.party, count(*) AS party_votes FROM {joined} GROUP BY 1, 2)
            SELECT address_state, party, party_votes FROM (
              SELECT *, rank() OVER (PARTITION BY address_state ORDER BY party_votes DESC) AS rk FROM s)
            WHERE rk = 1""",
        "genderDistribution": f"""
            SELECT r.gender, count(*) AS vote_count,
                   {pct.format(n='count(*)', d='(SELECT count(*) FROM vote)')} AS percentage
            FROM vote v JOIN voter r ON r.voter_id = v.voter_id GROUP BY 1""",
        "ageDistribution": f"""
            WITH a AS (SELECT CASE WHEN r.age < 30 THEN '18-29' WHEN r.age < 45 THEN '30-44'
                                   WHEN r.age < 60 THEN '45-59' ELSE '60+' END AS age_group,
                              count(*) AS count
                       FROM vote v JOIN voter r ON r.voter_id = v.voter_id GROUP BY 1)
            SELECT age_group, count, {pct.format(n='count', d='sum(count) OVER ()')} AS percentage FROM a""",
        "candidateInfo": """
            SELECT first_name, last_name, party, age, gender, biography, img_url FROM candidate""",
        "stateVotingDetails": f"""
            WITH sv AS (SELECT r.address_state, c.party, count(*) AS votes, spark_round(avg(r.age), 1) AS avg_age,
                               spark_round(CAST(100.0 AS DOUBLE) * count(CASE WHEN r.gender = 'male' THEN 1 END)
                                     / count(*), 1) AS male_pct
                        FROM {joined} GROUP BY 1, 2),
                 spine AS (SELECT DISTINCT address_state FROM voter)
            SELECT s.address_state AS "State",
                   coalesce(m.votes, 0) AS "Management Party",
                   coalesce(l.votes, 0) AS "Liberation Party",
                   coalesce(u.votes, 0) AS "United Republic Party",
                   coalesce(m.votes, 0) + coalesce(l.votes, 0) + coalesce(u.votes, 0) AS "Total Votes",
                   spark_round((coalesce(m.avg_age, 0) + coalesce(l.avg_age, 0) + coalesce(u.avg_age, 0)) / 3, 1)
                     AS "Avg Age",
                   spark_round((coalesce(m.male_pct, 0) + coalesce(l.male_pct, 0) + coalesce(u.male_pct, 0)) / 3, 1)
                     AS "Male %"
            FROM spine s
            LEFT JOIN sv m ON m.address_state = s.address_state AND m.party = 'Management Party'
            LEFT JOIN sv l ON l.address_state = s.address_state AND l.party = 'Liberation Party'
            LEFT JOIN sv u ON u.address_state = s.address_state AND u.party = 'United Republic Party'""",
        "candidateImage": f"""
            SELECT img_url FROM candidate
            WHERE first_name = '{first.replace("'", "''")}' AND last_name = '{last.replace("'", "''")}'""",
        "generatorStats": f"""
            WITH g AS (SELECT c.candidate_id, c.first_name, c.last_name, c.party, count(*) AS vote_count
                       FROM candidate c LEFT JOIN vote v ON v.candidate_id = c.candidate_id GROUP BY 1, 2, 3, 4)
            SELECT first_name, last_name, party, vote_count,
                   spark_round(CAST(vote_count AS DOUBLE) * 100.0 / nullif(sum(vote_count) OVER (), 0), 2)
                     AS percentage
            FROM g""",
    }


def duckdb_connect(threads):
    try:
        import duckdb
    except ImportError:
        die("the correctness check needs the duckdb Python module")
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


def check_dashboard(res, fault):
    extra = res["extra"]
    con = duckdb_connect(2)
    # Spark rounds a double half-up on its shortest decimal form
    # (BigDecimal(d)); DuckDB's round works on the binary value
    con.execute("CREATE MACRO spark_round(x, d) AS "
                "CAST(round(CAST(CAST(x AS VARCHAR) AS DECIMAL(38, 12)), d) AS DOUBLE)")
    for t in ("candidate", "voter", "vote"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(extra['electorate'], t)}/*.parquet')")
    problems = []
    sql = dashboard_sql(extra["image_first_name"], extra["image_last_name"])
    for i, name in enumerate(DASHBOARD_CALLS):
        try:
            s_cols, s_rows = spark_rows(con, os.path.join(extra["results"], name), fault and i == 0)
            d_cols, d_rows = fetch(con, sql[name])
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            problems.append(f"{name}: {e}")
            continue
        if name == "votesByCandidate":
            problems += check_votes_by_candidate(s_cols, s_rows, d_cols, d_rows)
            continue
        p = compare(name, s_cols, s_rows, d_cols, d_rows)
        if p:
            problems.append(p)
    return len(DASHBOARD_CALLS), problems


def check_votes_by_candidate(s_cols, s_rows, d_cols, d_rows):
    """Exact on every column but hourly_change; that one is the latest
    hour's change of at most one candidate, 0 for the others."""
    si, di = s_cols.index("hourly_change"), d_cols.index("hourly_change")
    strip = lambda cols, i: [c for j, c in enumerate(cols) if j != i]  # noqa: E731
    p = compare("votesByCandidate", strip(s_cols, si), [r[:si] + r[si + 1:] for r in s_rows],
                strip(d_cols, di), [r[:di] + r[di + 1:] for r in d_rows])
    if p:
        return [p]
    key = lambda cols, r: (r[cols.index("first_name")], r[cols.index("last_name")])  # noqa: E731
    allowed = {key(d_cols, r): r[di] for r in d_rows}
    nonzero = [r for r in s_rows if r[si] != 0]
    bad = [r for r in s_rows if r[si] not in (0, allowed.get(key(s_cols, r)))]
    if bad or len(nonzero) > 1:
        return [f"votesByCandidate: hourly_change {[r[si] for r in s_rows]} against latest-hour "
                f"changes {sorted(allowed.values())}"]
    return []


def check_analytics(res, fault):
    extra = res["extra"]
    con = duckdb_connect(4)
    for p in sorted(glob.glob(os.path.join(extra["data"], "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(os.path.dirname(extra["results"]), "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    problems = []
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        try:
            s_cols, s_rows = spark_rows(con, os.path.join(extra["results"], name), fault and i == 0)
            d_cols, d_rows = fetch(con, sql)
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: {e}")
            continue
        p = compare(name, s_cols, s_rows, d_cols, d_rows)
        if p:
            problems.append(p)
    return len(oracle), problems


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: a seconds-long smoke-test size")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one output before the check (tests the correctness gate)")
    a = ap.parse_args()
    # a stop request unwinds normally, so the running child is killed and
    # waited for
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))

    build()
    t0 = time.time()
    deadline = t0 + DEADLINE_S
    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", a.size,
            "--data", DATA, "--fault", "1" if a.inject_fault else "0"]
    res = run_jvm(args, work, deadline)
    t1 = time.time()

    attempted, failed = int(res["attempted"]), int(res["failed"])
    problems = list(res["failures"])
    if a.workload == "dashboard":
        n, p = check_dashboard(res, a.inject_fault)
    elif a.workload == "analytics":
        n, p = check_analytics(res, a.inject_fault)
    else:
        n, p = 0, []
    attempted += n
    failed += len(p)
    problems += p
    for line in problems:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(f"perfbench: workload {t1 - t0:.1f}s, check {time.time() - t1:.1f}s", file=sys.stderr)

    if a.trace:
        layer = res["layer"]
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in per_layer()}
        # layers only the by-hand dashboard measures (engine.<call>.exec_s)
        metrics.update({k: {"value": float(v), "unit": "s" if k.endswith("_s") else "count"}
                        for k, v in layer.items() if k not in metrics})
    else:
        e2e = res["e2e"]
        missing = [k for k in END_TO_END if e2e.get(k) is None]
        if missing:
            die(f"metrics not measured: {missing}")
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"workload": a.workload, "env": res["env"], "extra": res["extra"],
                      "wall_s": round(time.time() - t0, 3)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
