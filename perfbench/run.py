"""Checkout benchmark: one command, every metric, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root; the first run builds the program and the
harness from source (sbt, offline). Workloads, metrics and what each
layer metric should move are described in perfbench/README.md.

With --trace 0 the last stdout line holds the end-to-end metrics, with
--trace 1 the per-layer ones. Every run checks every verdict and the
final inventory against an independent replay (oracle.py); each mismatch
is printed by id and counted in `failed`.
"""

import argparse
import datetime
import json
import math
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import tables  # noqa: E402
from stats import median, percentile, rel_se_median  # noqa: E402

ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "classpath.txt")
WORK = os.path.join(HERE, "work")
# A run (after the build) must end within three minutes; JVMs still
# running at this deadline are killed, which fails the run.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
deadline = None

CPUS = 4
# Steady: 1000 orders/s in one file every 250 ms. The first `warmup_s` of
# the schedule are left out of the latency figures: batch times keep
# falling for about that long while the JVM compiles the hot paths.
# Traced runs probe layers over the first `probe_files` files, and run
# the local[1] baseline over the first `local1_files`, `local1_max_files`
# a batch.
STEADY = dict(lines_per_file=250, interval_ms=250, warmup_s=24.0, probe_files=40,
              local1_files=40, local1_max_files=20)
# Backlog: `files_per_second` files of 2000 orders per second of --seconds,
# drained 16 files (32k orders) per batch, after a warm-up drain of two
# batches. An odd number of batches (5 at 16 s) keeps the median order
# inside a batch rather than on a batch boundary. Consecutive files are
# 2 s apart in event time, so that redeliveries of the last 1-3 files
# stay inside the dedup stream's 10 s watermark.
BACKLOG = dict(files_per_second=5, lines_per_file=2000, interval_ms=2000, max_files=16,
               hot=5, hot_share=0.4, hot_stock_frac=0.55, warm_files=32, probe_files=16,
               local1_files=12, local1_max_files=6)

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "src", "main", "resources"),
                 os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            for n in names:
                yield os.path.join(d, n)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compiles the program and the harness; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no program sources under src/main/scala/graft; "
                         "run from the repository root")
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(p) < stamp for p in sources()):
            return open(CLASSPATH_FILE).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env.setdefault("SPARK_HOME", spark_home())
    log("perfbench: building (sbt compile)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    cps = [ln.strip() for ln in out.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = cps[-1]
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp + "\n")
    return cp


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("perfbench: SPARK_HOME unset and spark-submit not on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


# ---------------------------------------------------------------- JVM

class Jvm:
    """The harness JVM (perfbench.Harness), driven line by line."""

    def __init__(self, cp, work, cpus):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
        self.stderr = open(os.path.join(work, "jvm.log"), "w")
        t = time.time()
        self.p = subprocess.Popen(
            [java, "-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + opens +
            ["-cp", cp, "perfbench.Harness", "--cpus", str(cpus), "--work", work],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.stderr,
            text=True, cwd=work)
        self.watchdog = threading.Timer(max(1.0, deadline - time.time()), self.p.kill)
        self.watchdog.start()
        self.started = t

    def ready(self):
        """Waits for the session; the caller may work while it starts."""
        self.expect("ready")
        log("perfbench: JVM ready %.2f s after launch" % (time.time() - self.started))
        return self

    def expect(self, word):
        while True:
            line = self.p.stdout.readline()
            if not line:
                raise RuntimeError("harness JVM exited; see %s" % self.stderr.name)
            if line.startswith("@"):
                parts = line[1:].split()
                if parts[0] == "error":
                    raise RuntimeError("harness: " + line[1:].strip())
                if parts[0] != word:
                    raise RuntimeError("harness: expected %s, got %s" % (word, line.strip()))
                return parts[1:]

    def call(self, line, word):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()
        return self.expect(word)

    def close(self):
        self.watchdog.cancel()
        if self.p.poll() is None:
            try:
                self.p.stdin.write("quit\n")
                self.p.stdin.flush()
                self.p.wait(timeout=60)
            except (BrokenPipeError, subprocess.TimeoutExpired):
                self.p.kill()
                self.p.wait()
        self.stderr.close()


# ---------------------------------------------------------------- staging

def write_file(queue, tmp, name, data, mtime=None):
    """Write-then-rename: the source never sees a partial file."""
    path = os.path.join(tmp, name)
    with open(path, "wb") as f:
        f.write(data)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    os.rename(path, os.path.join(queue, name))


def stage(wl, queue):
    """Writes every file now, with ascending mtimes in file order."""
    tmp = queue + "-tmp"
    os.makedirs(queue)
    os.makedirs(tmp)
    now = time.time()
    n = len(wl.files)
    for i, lines in enumerate(wl.files):
        write_file(queue, tmp, "f%06d.json" % i, gen.file_bytes(lines), now - (n - i) * 0.01)


class Schedule(threading.Thread):
    """The open-loop generator: file i is due at t0 + i * interval and is
    written then, however far the pipeline has fallen behind."""

    def __init__(self, wl, queue, t0):
        super().__init__(daemon=True)
        self.data = [gen.file_bytes(lines) for lines in wl.files]
        self.queue = queue
        self.t0 = t0
        self.step = wl.interval_ms / 1000.0
        self.late_ms = []
        self.written_at = []
        self.window_cpu_ns = None

    def run(self):
        for i, data in enumerate(self.data):
            due = self.t0 + i * self.step
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            write_file(self.queue, self.queue + "-tmp", "f%06d.json" % i, data)
            now = time.time()
            self.written_at.append(now)
            self.late_ms.append(max(0.0, (now - due) * 1000.0))


# ---------------------------------------------------------------- results

def iso_ms(s):
    """Progress timestamps: 2026-10-17T09:40:00.123Z -> epoch ms."""
    t = datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def read_query(out):
    with open(os.path.join(out, "query.json")) as f:
        q = json.load(f)
    for p in q["progress"]:
        p["start_ms"] = iso_ms(p["timestamp"])
        p["end_ms"] = p["start_ms"] + p["durationMs"].get("triggerExecution", 0)
    return q


def read_verdicts(out):
    import pyarrow.dataset as ds
    path = os.path.join(out, "verdicts")
    if not os.path.isdir(path):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["order_id", "status", "batch_id"])
    return list(zip(t.column("order_id").to_pylist(), t.column("status").to_pylist(),
                    t.column("batch_id").to_pylist()))


# ---------------------------------------------------------------- workloads

class Pass:
    """One run of the pipeline over one workload: what the checks and
    the metrics need."""

    def __init__(self, wl, q, rows, failures, attempted):
        self.wl, self.q, self.rows = wl, q, rows
        self.failures, self.attempted = failures, attempted
        self.batch_end = {p["batchId"]: p["end_ms"] for p in q["progress"]}


def run_query(jvm, work, name, wl, trigger, max_files, traced, queue, during=None):
    """Seeds a fresh inventory, runs one query over `queue` and checks
    its verdicts. `traced` is off, now or later (the listeners attach on
    a `trace` command); `during` runs between start and finish (the
    open-loop generator)."""
    out = os.path.join(work, name)
    inv_dir = os.path.join(out, "inventory")
    csv = os.path.join(work, name + "-inventory.csv")
    with open(csv, "wb") as f:
        f.write(gen.inventory_csv(wl.inventory))
    t = time.time()
    jvm.call("seed %s %s" % (csv, inv_dir), "seeded")
    log("perfbench: %s seeded in %.2f s" % (name, time.time() - t))
    started_ms = float(jvm.call("start %s %s %s %s %s %d %s" % (
        name, queue, inv_dir, out, trigger, max_files, traced), "started")[1])
    if during:
        during()
    t = time.time()
    _, wall_ms, cpu_ns = jvm.call("finish " + name, "finished")
    wall_ms = float(wall_ms)
    log("perfbench: %s finished %.2f s after the input, wall %.2f s" % (name, time.time() - t, wall_ms / 1e3))
    t = time.time()
    q = read_query(out)
    q["wall_ms"] = wall_ms
    q["cpu_end_ns"] = int(cpu_ns)
    q["started_ms"] = started_ms
    rows = read_verdicts(out)
    attempted, failures = oracle.check(rows, wl.orders, wl.inventory, q["inventory"])
    log("perfbench: %s checked in %.2f s" % (name, time.time() - t))
    return Pass(wl, q, rows, failures, attempted)


def steady_workload(seed, n_files):
    return gen.generate(seed, n_files, STEADY["lines_per_file"], STEADY["interval_ms"])


def steady_pass(jvm, work, wl, trace_s=None):
    """Starts the query, then writes the files on schedule. The JVM's CPU
    time is taken when the warm-up window ends; with `trace_s` = (from,
    to) the listeners record from `from` to `to` seconds into the
    schedule. Returns the pass and the schedule, which holds due times
    and lateness."""
    queue = os.path.join(work, "steady-queue")
    os.makedirs(queue)
    os.makedirs(queue + "-tmp")
    sched = Schedule(wl, queue, None)

    def during():
        sched.t0 = time.time() + 0.2
        sched.start()
        time.sleep(max(0.0, sched.t0 + STEADY["warmup_s"] - time.time()))
        sched.window_cpu_ns = int(jvm.call("cpu", "cpu")[0])
        if trace_s is not None:
            time.sleep(max(0.0, sched.t0 + trace_s[0] - time.time()))
            jvm.call("trace steady", "tracing")
            time.sleep(max(0.0, sched.t0 + trace_s[1] - time.time()))
            jvm.call("untrace steady", "untraced")
        sched.join()

    traced = "off" if trace_s is None else "later"
    return run_query(jvm, work, "steady", wl, "continuous", 0, traced, queue, during), sched


def steady_latencies(ps, sched, from_s, windows_ms=((0.0, float("inf")),)):
    """Latencies (ms) of the valid orders due from `from_s` seconds into
    the schedule, from due time to the end of the batch that wrote the
    verdict, for batches that started inside one of `windows_ms` ([from,
    to) epoch ms)."""
    start = {p["batchId"]: p["start_ms"] for p in ps.q["progress"]}
    lat = []
    for oid, _, batch in ps.rows:
        o = ps.wl.orders.get(oid)
        if o is None or not o.valid or batch not in ps.batch_end or o.file * sched.step < from_s:
            continue
        if any(a <= start[batch] < b for a, b in windows_ms):
            lat.append(ps.batch_end[batch] - (sched.t0 + o.file * sched.step) * 1000.0)
    return lat


def cpu_capacity(ps, sched, n):
    """Orders per second the CPUs would clear at the measured window's
    CPU cost per order: n orders over the JVM's CPU time from the end of
    the warm-up window to the end of the query, spread over CPUS cores."""
    return n * CPUS / ((ps.q["cpu_end_ns"] - sched.window_cpu_ns) / 1e9)


def trigger_ms(ps, from_ms=0.0, to_ms=float("inf")):
    """Trigger durations of the pass's data batches that start from
    `from_ms` to `to_ms`."""
    return [p["durationMs"].get("triggerExecution", 0) for p in ps.q["progress"]
            if p["numInputRows"] > 0 and from_ms <= p["start_ms"] < to_ms]


def prefix(wl, n):
    """The first n files of a workload, as a workload of its own."""
    return gen.Workload(wl.files[:n], {k: o for k, o in wl.orders.items() if o.file < n},
                        wl.inventory, wl.interval_ms)


def backlog_workload(seed, n_files, id_prefix="o"):
    return gen.generate(seed, n_files, BACKLOG["lines_per_file"], BACKLOG["interval_ms"],
                        hot=BACKLOG["hot"], hot_share=BACKLOG["hot_share"],
                        hot_stock_frac=BACKLOG["hot_stock_frac"], id_prefix=id_prefix)


def backlog_pass(jvm, work, name, wl, traced="off", queue=None, max_files=BACKLOG["max_files"]):
    if queue is None:
        queue = os.path.join(work, name + "-queue")
        stage(wl, queue)
    return run_query(jvm, work, name, wl, "available", max_files, traced, queue)


def backlog_latencies(ps):
    """Every order of a backlog is due when the drain starts."""
    t0 = ps.q["started_ms"]
    return [ps.batch_end[b] - t0 for oid, _, b in ps.rows if b in ps.batch_end]


def verdict_rate(ps):
    """Distinct valid orders with a verdict per second of query wall time."""
    n = len({oid for oid, _, _ in ps.rows if oid in ps.wl.orders and ps.wl.orders[oid].valid})
    return n / (ps.q["wall_ms"] / 1000.0)


# ---------------------------------------------------------------- per layer

def med(xs, unit):
    """(median, unit, sample count); 0 over no samples."""
    return (median(xs) if xs else 0.0), unit, len(xs)


def layer_metrics(ps, probe, files_lines, written_at=None, since_ms=0.0, until_ms=float("inf")):
    """Per-layer metrics of one traced pass (see BENCHMARK.json), as
    name -> (value, unit, samples). Batches, their jobs and their writes
    count if they start from `since_ms` to `until_ms`: the traced window."""
    prog = [p for p in ps.q["progress"] if since_ms <= p["start_ms"] < until_ms]
    ids = {p["batchId"] for p in prog}
    tr = dict(ps.q["trace"])
    tr["jobs"] = [j for j in tr["jobs"] if j["batch"] in ids
                  or (j["batch"] < 0 and since_ms <= j["time_ms"] < until_ms)]
    tr["execs"] = [e for e in tr["execs"] if since_ms <= e["start_ms"] < until_ms]
    data = [p for p in prog if p["numInputRows"] > 0]

    def dur(key, batches=data):
        return [p["durationMs"].get(key, 0) for p in batches]

    def one(value, unit):
        return value, unit, 1

    m = {}
    m["sources.latest_offset_ms_p50"] = med(dur("latestOffset", prog), "ms")
    m["sources.get_batch_ms_p50"] = med(dur("getBatch"), "ms")
    m["sources.files_per_batch_p50"] = med([p["numInputRows"] / files_lines for p in data], "count")
    # files present but not yet taken, at each batch start
    backlog = []
    consumed = sum(round(p["numInputRows"] / files_lines) for p in ps.q["progress"]
                   if p["start_ms"] < since_ms)
    for p in prog:
        present = len(ps.wl.files) if written_at is None else \
            sum(1 for w in written_at if w * 1000.0 <= p["start_ms"])
        backlog.append(present - consumed)
        consumed += round(p["numInputRows"] / files_lines)
    m["sources.backlog_files_max"] = (max(backlog), "count", len(backlog))

    trig = dur("triggerExecution")
    m["streaming.batch.trigger_ms_p50"] = med(trig, "ms")
    m["streaming.batch.trigger_ms_p99"] = (percentile(trig, 99)[0] or 0.0, "ms", len(trig))
    m["streaming.batch.plan_ms_p50"] = med(dur("queryPlanning"), "ms")
    m["streaming.batch.wal_ms_p50"] = med(dur("walCommit"), "ms")
    m["streaming.batch.add_batch_ms_p50"] = med(dur("addBatch"), "ms")
    m["streaming.batch.commit_ms_p50"] = med(dur("commitOffsets"), "ms")
    m["streaming.batch.batches"] = one(len(prog), "count")
    m["streaming.batch.no_data_batches"] = one(len(prog) - len(data), "count")
    per_batch = {}
    for j in tr["jobs"]:
        if j["batch"] >= 0:
            b = per_batch.setdefault(j["batch"], [0, 0])
            b[0] += 1
            b[1] += j["tasks"]
    m["streaming.batch.jobs_per_batch"] = med([v[0] for v in per_batch.values()], "count")
    m["streaming.batch.tasks_per_batch"] = med([v[1] for v in per_batch.values()], "count")

    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    m["streaming.dedup.state_rows"] = (max([s["numRowsTotal"] for s in state] or [0]), "count", len(state))
    m["streaming.dedup.state_commit_ms_p50"] = med([s.get("commitTimeMs", 0) for s in state], "ms")
    m["streaming.dedup.state_memory_bytes"] = (
        max([s.get("memoryUsedBytes", 0) for s in state] or [0]), "bytes", len(state))
    m["streaming.dedup.dropped"] = (sum(
        s.get("numRowsDroppedByWatermark", 0) + s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
        for s in state), "count", len(state))

    m["ingest.parse_s"] = med(probe["parse_s"], "s")
    m["ingest.rejected"] = one(probe["rejected"], "count")
    m["streaming.checkout.admit_s"] = med(probe["admit_s"], "s")
    m["streaming.checkout.apply_batch_s"] = med(probe["apply_batch_s"], "s")
    writes = {"inv": [], "verdicts": []}
    for e in tr["execs"]:
        if e["end_ms"] < 0:
            continue
        if re.search(r"/inventory/v\d+$", e["path"]):
            writes["inv"].append(e["end_ms"] - e["start_ms"])
        elif re.search(r"/verdicts/batch_id=\d+$", e["path"]):
            writes["verdicts"].append(e["end_ms"] - e["start_ms"])
    m["streaming.checkout.inventory_write_ms_p50"] = med(writes["inv"], "ms")
    m["streaming.checkout.verdict_write_ms_p50"] = med(writes["verdicts"], "ms")
    batch_jobs = [j for j in tr["jobs"] if j["batch"] >= 0]
    m["streaming.checkout.shuffle_write_bytes"] = one(sum(j["shuffle_write"] for j in batch_jobs), "bytes")
    # slowest task over the mean task, per multi-task stage of the batches
    skews = [max(t) / (sum(t) / len(t)) for j in batch_jobs for t in j["stage_task_ms"]
             if len(t) > 1 and sum(t) > 0]
    m["streaming.checkout.task_skew"] = med(skews, "ratio")
    m["streaming.checkout.failed_orders"] = one(sum(1 for _, s, _ in ps.rows if s == oracle.FAILED), "count")

    m["spark.jobs"] = one(len(tr["jobs"]), "count")
    m["spark.tasks"] = one(sum(j["tasks"] for j in tr["jobs"]), "count")
    m["spark.task_cpu_s"] = one(sum(j["cpu_ns"] for j in tr["jobs"]) / 1e9, "s")
    m["spark.shuffle_write_bytes"] = one(sum(j["shuffle_write"] for j in tr["jobs"]), "bytes")
    m["spark.spill_bytes"] = one(sum(j["spill"] for j in tr["jobs"]), "bytes")
    m["spark.gc_s"] = one(tr["gc_ms"] / 1000.0, "s")
    m["jvm.heap_peak_mb"] = one(tr["heap_peak_bytes"] / 2.0 ** 20, "MB")
    return m


# The registered queries the traced runs time beside the stream, one or
# more per layer the checkout stream does not reach: checkout and ingest
# (graft.process, graft.notify), relational (graft.queries, SaltJoinRule
# in graft.plans, fuzzy join and connected components in graft.ops),
# ops (MinHash, BM25, IVF-PQ), segment store (MERGE beside reads) and
# the DLQ and saga stream drivers.
MIX = ["ingest_parse_validate", "checkout_final_inventory", "notify_messages",
       "rel_q5_region_revenue", "rel_join_autosalt_composite", "rel_entity_resolution",
       "dedup_minhash_verified", "text_bm25_topk", "emb_ivfpq_topk",
       "store_segment_mor_sql", "store_segment_q3",
       "stream_dlq_counts", "stream_saga_loop_counts"]


def query_mix(jvm, work, seed, res):
    """Times the registered queries (SparkEntry.queries) over seeded
    tables; returns the started thread that checks each against its
    DuckDB oracle."""
    d = os.path.join(work, "tables")
    out = os.path.join(work, "mix")
    tables.generate(d, seed)
    jvm.call("mix %s %s %s" % (d, out, ",".join(MIX)), "mixed")
    with open(os.path.join(out, "mix.json")) as f:
        mx = json.load(f)
    res.attempted += len(MIX)
    res.failures += ["mix %s: %s" % kv for kv in mx["errors"].items()]
    jobs = mx["trace"]["jobs"]
    for name, s in zip(mx["names"], mx["s"]):
        mine = [j for j in jobs if j["group"] == name]
        res.add("mix.%s.s" % name, s, "s")
        res.add("mix.%s.jobs" % name, len(mine), "count")
        res.add("mix.%s.shuffle_write_bytes" % name, sum(j["shuffle_write"] for j in mine), "bytes")
    res.add("mix.total_s", sum(mx["s"]), "s", len(MIX))

    def check():
        try:
            res.failures.extend("mix " + f for f in tables.check(
                d, out, [n for n in MIX if n not in mx["errors"]]))
        except Exception as e:  # the compare itself broke: every query counts as failed
            res.failures.append("mix oracle compare: %s: %s" % (type(e).__name__, e))
    # the compare needs no timing of its own: it runs on one core beside
    # the local[1] baseline
    th = threading.Thread(target=check)
    th.start()
    return th


# ---------------------------------------------------------------- runs

class Result:
    """What one run reports: metrics, checks and, when traced, spans."""

    def __init__(self):
        self.metrics = {}    # name -> (value, unit, samples)
        self.attempted = 0
        self.failures = []
        self.spans = []      # this process's spans, epoch seconds
        self.jvm_spans = []  # the traced pass's spans, ns from its start

    def add(self, name, value, unit, samples=1):
        self.metrics[name] = (value, unit, samples)

    def checked(self, label, ps):
        self.attempted += ps.attempted
        self.failures += ["%s %s" % (label, f) for f in ps.failures]


def span(res, name, t0):
    res.spans.append({"name": name, "start_s": t0, "end_s": time.time()})


def probe(jvm, work, name, queue, wl):
    csv = os.path.join(work, name + "-inventory.csv")
    with open(csv, "wb") as f:
        f.write(gen.inventory_csv(wl.inventory))
    out = os.path.join(work, name + ".json")
    jvm.call("probe %s %s %s %s" % (queue, csv, os.path.join(work, name), out), "probed")
    with open(out) as f:
        return json.load(f)


def baseline_local1(cp, work, wl, files, max_files, res):
    """The same job on local[1], drained as a backlog over the workload's
    first `files` files, `max_files` a batch: orders per second of batch
    time over the batches after the first, which pays the JVM's warm-up."""
    d = os.path.join(work, "local1")
    jvm = Jvm(cp, d, 1)
    try:
        jvm.ready()
        ps = backlog_pass(jvm, d, "local1", prefix(wl, files), max_files=max_files)
    finally:
        jvm.close()
    res.checked("local1", ps)
    batches = sorted(p["batchId"] for p in ps.q["progress"] if p["numInputRows"] > 0)[1:]
    n = sum(1 for oid, _, b in ps.rows if b in batches and ps.wl.orders[oid].valid)
    busy_ms = sum(p["durationMs"]["triggerExecution"] for p in ps.q["progress"] if p["batchId"] in batches)
    return n / (busy_ms / 1000.0)


def run_steady(cp, work, seed, seconds, trace, res):
    """Untraced: a warm-up window, then `seconds` measured. Traced: after
    the warm-up the stream runs `seconds` / 4 untraced, `seconds` traced
    and `seconds` / 4 untraced again, so that the JVM's drift as it keeps
    warming cancels, to first order, in the overhead."""
    warmup_s = STEADY["warmup_s"]
    edge_s = seconds / 4.0
    run_s = seconds + 2 * edge_s if trace else seconds
    t_setup = time.time()
    jvm = Jvm(cp, work, CPUS)
    try:
        wl = steady_workload(seed, int((warmup_s + run_s) * 1000 / STEADY["interval_ms"]))
        log("perfbench: generated in %.2f s" % (time.time() - t_setup))
        jvm.ready()
        trace_s = (warmup_s + edge_s, warmup_s + edge_s + seconds) if trace else None
        ps, sched = steady_pass(jvm, work, wl, trace_s)
        res.checked("steady", ps)
        if not trace:
            lat = steady_latencies(ps, sched, warmup_s)
            p50_, n = percentile(lat, 50)
            p99_, _ = percentile(lat, 99)
            res.add("setup_s", sched.t0 + warmup_s - t_setup, "s")
            res.add("order_latency_p50_ms", p50_, "ms", n)
            res.add("order_latency_p99_ms", p99_, "ms", n)
            # the open loop clears orders at the offered rate whatever the
            # program's speed, so the steady figure is the CPU-bound capacity
            res.add("orders_per_s", cpu_capacity(ps, sched, n), "1/s", n)
            return
        w0, t0, t1 = [(sched.t0 + x) * 1000.0 for x in (warmup_s,) + trace_s]
        check = layers(jvm, work, seed, res, ps, STEADY["probe_files"], STEADY["lines_per_file"],
                       sched.written_at, t0, t1)
    finally:
        jvm.close()
    res.add("loadgen.late_ms_max", max(sched.late_ms), "ms", len(sched.late_ms))
    t = time.time()
    res.add("baseline.local1_orders_per_s", baseline_local1(
        cp, work, wl, STEADY["local1_files"], STEADY["local1_max_files"], res), "1/s")
    span(res, "local[1] baseline", t)
    t = time.time()
    check.join()
    log("perfbench: oracle compare done %.2f s after the baseline" % (time.time() - t))
    untraced = [(w0, t0), (t1, float("inf"))]
    traced_lat = steady_latencies(ps, sched, warmup_s, [(t0, t1)])
    untraced_lat = steady_latencies(ps, sched, warmup_s, untraced)
    res.add("trace.overhead_frac", median(traced_lat) / median(untraced_lat) - 1.0,
            "ratio", len(traced_lat) + len(untraced_lat))
    overhead_noise(res, trigger_ms(ps, t0, t1),
                   [x for a, b in untraced for x in trigger_ms(ps, a, b)])


def run_backlog(cp, work, seed, seconds, trace, res):
    """Untraced: a warm-up drain of another seed, then the backlog.
    Traced: the backlog drained with the listeners attached, then again
    without, for the overhead."""
    t_setup = time.time()
    jvm = Jvm(cp, work, CPUS)
    try:
        wl = backlog_workload(seed, BACKLOG["files_per_second"] * seconds)
        warm = backlog_workload(seed + 7919, BACKLOG["warm_files"], id_prefix="w")
        log("perfbench: generated in %.2f s" % (time.time() - t_setup))
        jvm.ready()
        res.checked("warmup", backlog_pass(jvm, work, "warmup", warm))
        queue = os.path.join(work, "backlog-queue")
        t = time.time()
        stage(wl, queue)
        log("perfbench: staged in %.2f s" % (time.time() - t))
        setup_s = time.time() - t_setup
        ps = backlog_pass(jvm, work, "backlog", wl, "now" if trace else "off", queue=queue)
        res.checked("backlog", ps)
        if not trace:
            lat = backlog_latencies(ps)
            p50_, n = percentile(lat, 50)
            p99_, _ = percentile(lat, 99)
            res.add("setup_s", setup_s, "s")
            res.add("order_latency_p50_ms", p50_, "ms", n)
            res.add("order_latency_p99_ms", p99_, "ms", n)
            res.add("orders_per_s", verdict_rate(ps), "1/s", n)
            return
        t = time.time()
        pu = backlog_pass(jvm, work, "backlog-untraced", wl, queue=queue)
        span(res, "untraced pass", t)
        res.checked("backlog-untraced", pu)
        check = layers(jvm, work, seed, res, ps, BACKLOG["probe_files"], BACKLOG["lines_per_file"])
    finally:
        jvm.close()
    res.add("loadgen.late_ms_max", 0.0, "ms", 0)
    t = time.time()
    res.add("baseline.local1_orders_per_s", baseline_local1(
        cp, work, wl, BACKLOG["local1_files"], BACKLOG["local1_max_files"], res), "1/s")
    span(res, "local[1] baseline", t)
    t = time.time()
    check.join()
    log("perfbench: oracle compare done %.2f s after the baseline" % (time.time() - t))
    res.add("trace.overhead_frac", verdict_rate(pu) / verdict_rate(ps) - 1.0, "ratio", 2)
    overhead_noise(res, trigger_ms(ps), trigger_ms(pu))


def overhead_noise(res, traced_ms, untraced_ms):
    """The chance variation of trace.overhead_frac: the relative standard
    errors of the two windows' median batch times, in quadrature. One
    traced and one untraced window cannot tell an overhead below about
    twice this from noise."""
    se = [rel_se_median(xs) for xs in (traced_ms, untraced_ms)]
    res.add("trace.overhead_noise_frac", math.sqrt(se[0] ** 2 + se[1] ** 2), "ratio",
            len(traced_ms) + len(untraced_ms))


def layers(jvm, work, seed, res, traced, probe_files, files_lines, written_at=None,
           since_ms=0.0, until_ms=float("inf")):
    """Per-layer metrics: the traced pass's, the layer probes' over the
    workload's first `probe_files` files, and the registered queries'.
    Returns the thread that runs the registered queries' oracle compare."""
    t = time.time()
    wl = prefix(traced.wl, probe_files)
    queue = os.path.join(work, "probe-queue")
    stage(wl, queue)
    pr = probe(jvm, work, "probe", queue, wl)
    span(res, "layer probes", t)
    log("perfbench: layer probes in %.2f s" % (time.time() - t))
    t = time.time()
    check = query_mix(jvm, work, seed, res)
    span(res, "query mix", t)
    log("perfbench: query mix in %.2f s" % (time.time() - t))
    for name, (v, unit, n) in layer_metrics(traced, pr, files_lines, written_at, since_ms, until_ms).items():
        res.add(name, v, unit, n)
    res.jvm_spans = traced.q["trace"]["spans"]
    return check


WORKLOADS = {"checkout_steady": run_steady, "checkout_backlog": run_backlog}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    global deadline
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = Result()
    WORKLOADS[args.workload](cp, work, args.seed, args.seconds, args.trace == 1, res)
    if args.trace:
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"run": res.spans, "jvm": res.jvm_spans}, f, indent=1)
    for f in res.failures:
        print("FAILED " + f)
    print("%-44s %16s  %-6s %s" % ("metric", "value", "unit", "samples"))
    for name, (v, unit, n) in res.metrics.items():
        print("%-44s %16.4f  %-6s %d" % (name, v, unit, n))
    failed = len(res.failures)
    print("failed_frac %.6f (%d of %d checked)" % (failed / max(1, res.attempted), failed, res.attempted))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, res.attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in res.metrics.items()},
    }))


if __name__ == "__main__":
    main()
