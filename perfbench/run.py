#!/usr/bin/env python3
"""The repository's benchmark: one workload, one fresh JVM, one JSON line.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 30 --trace 0

Run from the repository root. It builds the program and the benchmark
(build.py), generates the inputs (datagen.py, upsert_inputs.py), runs the
workload's timed passes in a fresh JVM on local[N], checks every output
against DuckDB, and prints as its last stdout line
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics of a traced run (`--trace 1`). It
exits 1 when an output is wrong and 2 when it cannot run at all. Each run
leaves a record of its conditions and metrics in `.bench_build/runs/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

# A run makes as many passes as fit --seconds at the seconds per pass
# calibrated on a 4-vCPU 2.1 GHz VM; every pass does the same work: the
# registry sample (operators, functions, streaming, llm queries), or
# LOADS_PER_PASS daily loads with a restatement after every third. The
# passes are timed one by one for the run record. The metric, cpu_s, is the
# CPU time of the JVM's Java threads over all passes: their wall time, and
# the JIT compilers' time, follow the CPU time other guests take from the
# box (at 20% steal a late registry pass reads +130% wall, +45% CPU), and
# the level late passes settle at differs from one JVM to the next.
PASS_SECONDS = {"registry": 4.3, "upsert_daily": 4.3}
REGISTRY_SAMPLE = "4,2,2,2"
LOADS_PER_PASS = 6
# Spark's local[N]: half the box's four vCPUs, so the JIT, GC and Spark's
# own threads do not compete with the tasks for the CPUs (the registry
# stages run one task each, so more task threads would stay idle).
CPUS = 2
STEAL_FLAG = 0.05  # a run that lost more CPU time than this to other guests is flagged
DATA_SEED = 42  # the registry tables are the same for every run
XMX = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
    return h.hexdigest()


class LoadGuard(threading.Thread):
    """Run conditions: the 1-minute loadavg at launch and its maximum while
    the run lasts, and whether other processes kept the CPUs busy at launch
    (runnable tasks besides this one, sampled over a second). A busy box is
    waited on for up to `wait_s`, then the run goes ahead flagged.
    """

    def __init__(self, wait_s=30.0):
        super().__init__(daemon=True)
        self.nproc = os.cpu_count() or 1
        self.stop_evt = threading.Event()
        deadline = time.time() + wait_s
        while True:
            self.others = self.runnable_others()
            if self.others < self.nproc / 2 or time.time() > deadline:
                break
            log(f"box busy ({self.others} other runnable tasks); waiting")
            time.sleep(2.0)
        self.busy = self.others >= self.nproc / 2
        self.load_at_launch = self.load1()
        self.load_max = self.load_at_launch
        self.jiffies0 = self.cpu_jiffies()

    @staticmethod
    def cpu_jiffies():
        """(steal, total) jiffies of all CPUs since boot."""
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])

    @staticmethod
    def load1():
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    @staticmethod
    def runnable_others():
        samples = []
        for _ in range(5):
            with open("/proc/stat") as f:
                for line in f:
                    if line.startswith("procs_running"):
                        samples.append(int(line.split()[1]) - 1)
            time.sleep(0.2)
        return statistics.median(samples)

    def run(self):
        while not self.stop_evt.wait(1.0):
            self.load_max = max(self.load_max, self.load1())

    def conditions(self):
        """The share of CPU time the hypervisor gave to other guests (steal)
        while the run lasted is recorded too: on a shared host it is the
        main source of run-to-run spread."""
        steal, total = (b - a for a, b in zip(self.jiffies0, self.cpu_jiffies()))
        return {"nproc": self.nproc, "loadavg1_at_launch": self.load_at_launch,
                "steal_share": round(steal / max(1, total), 4),
                "loadavg1_max": self.load_max, "runnable_others_at_launch": self.others,
                "busy_at_launch": self.busy}


def ensure_tables():
    """The registry tables, generated once per checkout from DATA_SEED."""
    import datagen
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        stamp = sha(f.read(), str(DATA_SEED))[:16]
    d = os.path.join(OUT, "data", f"tables-{stamp}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.write_tables(d, DATA_SEED)
        open(os.path.join(d, "done"), "w").close()
    return d, stamp


def passes_for(workload, seconds):
    return max(3, round(seconds / PASS_SECONDS[workload]))


def run_jvm(cp, workload, data_dir, work, cpus, trace, size, passes):
    out_file = os.path.join(work, "record.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{XMX}", f"-Xms{XMX}", "-Xmn1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           *ADD_OPENS, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main", workload, data_dir, work, out_file, str(cpus),
           str(trace), str(size), str(passes)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"benchmark JVM failed: {rc}")
    with open(out_file) as f:
        return json.load(f)


def duckdb_con(work):
    import duckdb
    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB",
                                 "temp_directory": os.path.join(work, "duckdb")})
    return con


def check_registry(record, data_dir, stamp, work):
    """Each query's row count against DuckDB running its oracle SQL over the
    same parquet; queries without an oracle against recorded counts."""
    cache_path = os.path.join(OUT, "oracle_counts.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    with open(os.path.join(HERE, "recorded_counts.json")) as f:
        recorded = json.load(f)
    con = None
    problems = []
    for op in record["ops"]:
        name = op["name"]
        if "error" in op:
            problems.append(f"{name}: threw {op['error']}")
            continue
        sql = record["oracle_sql"].get(name)
        if sql is None:
            want = recorded["counts"].get(name) if recorded["data"] == stamp else None
            if want is None:
                problems.append(f"{name}: no oracle and no recorded count for this data")
                continue
        else:
            key = sha(stamp, sql)
            if key not in cache:
                if con is None:
                    con = duckdb_con(work)
                    for t in ("region", "nation", "customer", "supplier", "part", "orders",
                              "lineitem", "events", "documents", "embeddings"):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{data_dir}/{t}.parquet')")
                body = sql.strip().rstrip(";")
                cache[key] = con.execute(f"SELECT count(*) FROM ({body})").fetchone()[0]
            want = cache[key]
        if int(op["rows"]) != want:
            problems.append(f"{name}: {int(op['rows'])} rows, expected {want}")
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return problems


def check_upsert(record, work, trace, build_stamp):
    """The final Derby table against last-writer-wins over the history, the
    slices and the restatements, computed by DuckDB; no staging table left;
    the dialect Spark resolved; in a traced run, the statement texts Derby
    compiled equal the ones the timing driver passed on; and those texts
    equal the ones of a passing run of the other mode from the same build.
    Returns the problems and what the cross-mode comparison found.
    """
    problems = [f"{op['name']}: threw {op['error']}" for op in record["ops"] if "error" in op]
    con = duckdb_con(work)
    parts = [f"SELECT *, 0 AS seq FROM read_parquet('{work}/history.parquet')"]
    with open(os.path.join(work, "plan.txt")) as f:
        for i, line in enumerate(l.split() for l in f if l.strip()):
            where = "source" if line[0] == "load" else "restate"
            parts.append(f"SELECT *, {i + 1} AS seq FROM read_parquet('{work}/{where}/{line[1]}')")
    con.execute("CREATE TABLE applied AS " + " UNION ALL ".join(parts))
    con.execute("CREATE TABLE expected AS SELECT * EXCLUDE (seq) FROM applied "
                "QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1")
    con.execute(f"""CREATE TABLE actual AS SELECT * FROM read_csv('{work}/target.csv', header = true,
        columns = {{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', 'o_orderstatus': 'VARCHAR',
        'o_totalprice': 'DOUBLE', 'o_orderpriority': 'VARCHAR', 'o_day': 'BIGINT'}})""")
    diff = con.execute("SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM actual)),"
                       " (SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected)),"
                       " (SELECT count(*) FROM expected)").fetchone()
    if diff[0] or diff[1]:
        problems.append(f"target differs from expected: {diff[0]} rows missing, {diff[1]} extra "
                        f"(of {diff[2]})")
    if record["leftover_staging"]:
        problems.append(f"{int(record['leftover_staging'])} staging tables left in Derby")
    if record["dialect"] != "org.apache.spark.sql.jdbc.DerbyDialect":
        problems.append(f"Spark resolved dialect {record['dialect']}")
    if trace and record.get("statement_text_match") is not True:
        problems.append("statement texts Derby compiled differ from those the timing driver passed")
    other = "untraced" if trace else "traced"
    peer = peer_record(1 - trace, build_stamp)
    if peer is None:
        statement_check = f"not compared: no passing {other} run of this build yet"
        log(f"statement texts {statement_check}")
    elif peer[1] != record["statement_digest"]:
        statement_check = f"differ from {other} run {peer[0]}"
        problems.append(f"statement texts differ from {other} run {peer[0]} of this build")
    else:
        statement_check = f"equal to {other} run {peer[0]}"
    return problems, statement_check


def peer_record(trace, build_stamp):
    """(run id, statement digest) of the newest passing upsert_daily run in
    mode `trace` built from the same sources, or None."""
    runs = os.path.join(OUT, "runs")
    names = os.listdir(runs) if os.path.isdir(runs) else []
    for name in sorted((n for n in names if n.endswith(f"upsert_daily-t{trace}.json")), reverse=True):
        with open(os.path.join(runs, name)) as f:
            prev = json.load(f)
        if (prev["result"]["correct"] and prev["conditions"].get("build") == build_stamp
                and prev.get("statement_digest")):
            return name[:-len(".json")], prev["statement_digest"]
    return None


def op_times(record):
    """Each operation's seconds, one entry per pass that ran it."""
    times = {}
    for op in record["ops"]:
        times.setdefault(op["name"], []).append(round(metrics.op_seconds(op), 4))
    return times


def source_revision():
    """git HEAD, or None outside a git checkout (the build stamp still
    identifies the sources)."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PASS_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"{ROOT} holds no program to benchmark (build.sbt, src/main/scala)")
        sys.exit(2)

    import build
    import upsert_inputs

    guard = LoadGuard()
    guard.start()
    cp, build_stamp = build.build()
    data_dir, stamp = ensure_tables()
    cpus = min(CPUS, guard.nproc)
    passes = passes_for(args.workload, args.seconds)
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    size = REGISTRY_SAMPLE
    if args.workload == "upsert_daily":
        size = passes * LOADS_PER_PASS
        upsert_inputs.write_upsert_inputs(data_dir, work, args.seed, loads=size)

    record = run_jvm(cp, args.workload, data_dir, work, cpus, args.trace, size, passes)
    statement_check = None
    if args.workload == "upsert_daily":
        problems, statement_check = check_upsert(record, work, args.trace, build_stamp)
    else:
        problems = check_registry(record, data_dir, stamp, work)
    ok, total = metrics.reconcile(record)
    if not ok:
        problems.append(f"per-operation times sum to {total:.3f} s, the passes took "
                        f"{sum(record['pass_times_s']):.3f} s")
    guard.stop_evt.set()
    guard.join()

    if args.trace:
        values = metrics.per_layer(record)
    else:
        values = {k: (v, metrics.E2E[k]) for k, v in metrics.end_to_end(record).items()}
    attempted = len(record["ops"])
    failed = min(attempted, len(problems))
    for p in problems:
        log(f"FAILED {p}")
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}

    conditions = guard.conditions()
    conditions.update({"local_n": cpus, "data": os.path.relpath(data_dir, ROOT),
                       "data_seed": DATA_SEED, "revision": source_revision(), "build": build_stamp,
                       "xmx": XMX,
                       "jvm_max_heap_mb": record.get("xmx_mb")})
    if conditions["busy_at_launch"] or conditions["steal_share"] > STEAL_FLAG:
        conditions["flagged"] = True
        log("run FLAGGED: launched on a busy box or lost CPU time to other guests")
    log("conditions " + json.dumps(conditions, sort_keys=True))
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    run_id = time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}-s{args.seed}-{args.workload}-t{args.trace}"
    with open(os.path.join(runs, run_id + ".json"), "w") as f:
        json.dump({"args": vars(args), "conditions": conditions, "result": result,
                   "ops": op_times(record),
                   "statement_digest": record.get("statement_digest"),
                   "statement_check": statement_check,
                   "setup": {k: record[k] for k in record if k.startswith("setup")},
                   "pass_times_s": record["pass_times_s"], "pass_cpu_s": record["pass_cpu_s"], "pass_jit_s": record["pass_jit_s"],
                   "pass_steal": record["pass_steal"]},
                  f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
