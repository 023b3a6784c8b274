"""Engine benchmark: one command that builds the engine from source, runs
a workload, checks every output and prints the metrics.

  python3 perfbench/run.py --workload ingest_steady|query_mix \
      --seed N --seconds S --trace 0|1

Run from the repository root. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the workload runs
twice, untraced and traced, and the metrics are the per-layer ones,
including the tracing overhead. The exit code is 0 only when every
output check passed. See perfbench/BENCHMARK.md.
"""

import argparse
import csv
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import metrics  # noqa: E402
import tables  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")

CORES = 4            # Spark's local[N] and shuffle partitions
RATE = 4000          # ingest_steady offered load, lines/s
PREFILL = 40_000     # lines burst into the pipeline before timing: ~40 spool files
WARM_S = 1.0         # then this many seconds at RATE, also before timing
PARTS = 3            # ingest_steady: sub-windows of the timed window
RUN_TIMEOUT_S = 170  # engine runs after the build, both of them with --trace 1

# query_mix: the registry queries of one pass, and their input tables
QUERIES = ["config_pipeline_v2", "parse_syslog_rfc5424", "patterndb_classify",
           "enrich_lookup", "grouping_by_session", "agg_stats",
           "dedup_minhash_lsh", "text_salient_terms", "template_format",
           "join_asof"]
QUERY_SF = 0.02      # table scale: 120,000 lineitem, 20,000 events, 1,000 documents
DATA_SEED = 42       # the tables are fixed; --seed orders the passes
WARM_PASSES = 1      # untimed passes before timing, counted in setup_s
EXPECTED = os.path.join(HERE, "query_mix_expected.json")

WORKLOADS = {"ingest_steady": "steady", "query_mix": "query"}

E2E = [("setup_s", "s"), ("throughput_per_s", "1/s"),
       ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
       ("peak_rss_mb", "MB")]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the project's
    own unmanagedBase from build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "jvm", "*.scala")))
    return files


def build(jars):
    """Compile the engine and the benchmark's JVM program with scalac, once per
    distinct source tree."""
    files = sources()
    h = hashlib.sha256()
    for path in files + [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                         if j.startswith("scala-")]:
        h.update(os.path.relpath(path, ROOT).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log(f"perfbench: compiling {len(files)} sources")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    found = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not found:
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    version = os.path.basename(found[0])[len("scala-compiler-"):-len(".jar")]
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{version}.jar")
                        for m in ("compiler", "library", "reflect"))
    rc = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*"),
         "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (scalac exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- run

def run_jvm(jars, work, main_args, deadline):
    """Run one engine JVM with `main_args` (its main class first) in
    `work`, which must exist; returns its spawn time in epoch us."""
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", f"-Dperfbench.cores={CORES}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + ":" + os.path.join(jars, "*")] + main_args)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's temporary files in `work`
    spawn_us = time.time_ns() // 1000
    with open(os.path.join(work, "jvm.log"), "w") as out:
        # own process group, so a timeout also stops the generator
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=ROOT, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: engine run timed out; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: engine run failed (exit {rc})")
    return spawn_us


def run_ingest(jars, work, seed, seconds, trace, deadline):
    shutil.rmtree(work, ignore_errors=True)
    spawn = run_jvm(jars, work, [
        "perfbench.IngestBench", work, sys.executable, os.path.join(HERE, "gen.py"),
        str(seed), str(seconds), "1" if trace else "0", str(RATE),
        str(PREFILL), str(WARM_S)], deadline)
    run = Run(work, seed, spawn)
    prune(work)
    return run


def run_queries(jars, work, seed, seconds, trace, deadline):
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    tables.write(data, QUERY_SF, DATA_SEED)
    spawn = run_jvm(jars, work, [
        "perfbench.QueryBench", work, data, str(seed), str(seconds),
        "1" if trace else "0", str(WARM_PASSES), ",".join(QUERIES)], deadline)
    run = QueryRun(work, spawn)
    prune(work)
    return run


def prune(work):
    """Drop the bulky engine files of a finished run; the records stay."""
    for name in ("data", "pipeline", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def as_int(text):
    """A stamp read back from the output, or -1 when it did not parse."""
    return int(text) if text.isdigit() else -1


def read_csv(path):
    with open(path) as f:
        return list(csv.reader(f))


class Run:
    """The raw records of one engine run, joined with what the generator
    sent."""

    def __init__(self, work, seed, spawn_us):
        self.work = work
        with open(os.path.join(work, "result.json")) as f:
            self.res = json.load(f)
        self.spawn_us = spawn_us
        self.gen = {}
        self.sched = {}      # seq -> scheduled send time (us)
        self.expect = {}     # seq -> expected route, None when dropped
        for ph in self.res["phases"]:
            with open(os.path.join(work, ph["report"])) as f:
                rep = json.load(f)
            self.gen[ph["phase"]] = (ph, rep)
            msgs = gen.messages(seed, ph["first_seq"], ph["count"])
            if ph["mode"] == "steady":
                sched = gen.schedule_us(rep["t0_us"], RATE, ph["count"])
            else:
                sched = [rep["t0_us"]] * ph["count"]
            for k, m in enumerate(msgs):
                seq = ph["first_seq"] + k
                self.sched[seq] = sched[k]
                self.expect[seq] = m[7]
        # [(seq, sched, route, batch, file)]
        self.rows = [(as_int(s), as_int(d), r, int(b), fl) for s, d, r, b, fl
                     in read_csv(os.path.join(work, "rows.csv"))]
        # batch id -> record
        self.batches = {int(r[0]): dict(zip(BATCH_COLS, map(int, r)))
                        for r in read_csv(os.path.join(work, "batches.csv"))}
        # spool file -> (mtime us, lines)
        self.spool = {r[0]: (int(r[1]), int(r[2]))
                      for r in read_csv(os.path.join(work, "spool.csv"))}

    def check(self):
        """(attempted, failed): every kept line arrives exactly once with
        its route and its stamp; no dropped line arrives."""
        seen = {}
        bad = set()
        unknown = 0
        for seq, sched, route, _b, _f in self.rows:
            if seq not in self.expect:
                unknown += 1
                continue
            seen[seq] = seen.get(seq, 0) + 1
            if (self.expect[seq] != route or sched != self.sched[seq]
                    or seen[seq] > 1):
                bad.add(seq)
        for seq, route in self.expect.items():
            if route is not None and seq not in seen:
                bad.add(seq)
        return len(self.expect), len(bad) + unknown

    def timed_rows(self):
        """Rows of the lines sent in the timed phase."""
        ph, _rep = self.gen["timed"]
        lo, hi = ph["first_seq"], ph["first_seq"] + ph["count"]
        return [row for row in self.rows if lo <= row[0] < hi]

    def commit(self, batch):
        return self.batches[batch]["commit_us"]

    def latest_offset(self):
        """Median latestOffset (ms) over the timed batches, then over their
        first and last quarter."""
        batches = sorted({b for _s, _d, _r, b, _f in self.timed_rows()})
        ms = [self.batches[b]["latest_offset_ms"] for b in batches]
        q = max(1, len(ms) // 4)
        return metrics.median(ms), metrics.median(ms[:q]), metrics.median(ms[-q:])

    def parts(self):
        """The timed rows cut into PARTS equal sub-windows by schedule,
        each reported on its own before taking the median over parts, so
        that one slow stretch of a run moves the run's figure little."""
        ph, rep = self.gen["timed"]
        width = ph["count"] * 1_000_000 // RATE / PARTS
        out = [[] for _ in range(PARTS)]
        for r in self.timed_rows():
            out[min(PARTS - 1, int((r[1] - rep["t0_us"]) // width))].append(r)
        return out

    def end_to_end(self):
        lat = [[(self.commit(b) - sched) / 1000.0 for _seq, sched, _r, b, _f in part]
               for part in self.parts()]
        tails = [metrics.tail(part) for part in lat]
        ph, rep = self.gen["timed"]
        lo = ph["first_seq"]
        end = rep["t0_us"] + ph["count"] * 1_000_000 // RATE
        # lines delivered by each commit inside the window: everything up
        # to the highest seq the batch held (one connection, files read in
        # order); rate between the first and last such commit
        by_batch = {}
        for seq, _s, _r, b, _f in self.timed_rows():
            by_batch[b] = max(by_batch.get(b, lo), seq)
        commits = sorted((self.commit(b), seq) for b, seq in by_batch.items())
        inside = [c for c in commits if c[0] <= end]
        if len(inside) >= 2:
            commits = inside
        (t1, d1), (tn, dn) = commits[0], commits[-1]
        thr = (dn - d1) / ((tn - t1) / 1e6)
        self.tail_label = (f"median over {len(tails)} parts of each part's "
                           + ", ".join(f"p{p:g} of {n}" for p, _v, n in tails))
        return {
            "setup_s": (self.res["timed_start_us"] - self.spawn_us) / 1e6,
            "throughput_per_s": thr,
            "latency_p50_ms": metrics.median([metrics.median(part) for part in lat]),
            "latency_tail_ms": metrics.median([v for _p, v, _n in tails]),
            "peak_rss_mb": self.res["peak_rss_kb"] / 1024.0,
        }

    def layers(self):
        """Per-layer metrics of a traced run."""
        rows = self.timed_rows()
        batches = [self.batches[b] for b in sorted({r[3] for r in rows})]
        spool = self.spool
        files = sorted({r[4] for r in rows})
        out = {}
        # tcp: frames and the time from schedule to the listener's count
        samples = self.res["receive_samples"]
        first = self.res["timed_first_seq"]
        base = samples[0][1] if samples else 0
        lag, i = [], 0
        for seq, sched, _r, _b, _f in sorted(rows):
            k = seq - first + 1  # frames the listener must have counted
            while i < len(samples) and samples[i][1] - base < k:
                i += 1
            if i < len(samples):
                lag.append((samples[i][0] - sched) / 1000.0)
        out["tcp.frames"] = self.res["tcp_frames"]
        out["tcp.receive_lag_ms"] = metrics.median(lag) if lag else 0.0
        # spool
        out["spool.files"] = len(files)
        out["spool.lines_per_file"] = metrics.median([spool[f][1] for f in files])
        out["spool.durable_ms"] = metrics.median(
            [(spool[f][0] - sched) / 1000.0 for _s, sched, _r, _b, f in rows])
        # micro-batches
        out["batch.count"] = len(batches)
        out["batch.rows"] = metrics.median([b["rows"] for b in batches])
        out["batch.pickup_ms"] = metrics.median(
            [(self.batches[b]["start_us"] - spool[f][0]) / 1000.0
             for _s, _d, _r, b, f in rows])
        (out["batch.latest_offset_ms"], out["batch.latest_offset_q1_ms"],
         out["batch.latest_offset_q4_ms"]) = self.latest_offset()
        for key in ("get_batch_ms", "query_planning_ms", "wal_commit_ms",
                    "add_batch_ms", "commit_offsets_ms", "trigger_ms"):
            out["batch." + key] = metrics.median([b[key] for b in batches])
        # sink, config, self times from the spans
        spans = [(int(a), n, int(s), int(e), int(p)) for a, n, s, e, p
                 in read_csv(os.path.join(self.work, "spans.csv"))]
        batch_span = {}
        for sid, name, s, e, _p in spans:
            if name == "batch":
                batch_span[sid] = s
        starts = {b["start_us"] for b in batches}
        writes = [(e - s) / 1000.0 for _i, n, s, e, p in spans
                  if n == "sink.write" and batch_span.get(p) in starts]
        out["sink.write_ms"] = metrics.median(writes) if writes else 0.0
        out["sink.files"] = self.res["sink_files"]
        for name in ("config.parse", "config.compile"):
            out[name + "_ms"] = metrics.median(
                [(e - s) / 1000.0 for _i, n, s, e, _p in spans if n == name])
        for name, t in metrics.self_times(spans).items():
            out["self." + name + "_ms"] = t / 1000.0
        # jvm and generator
        _ph, rep = self.gen["timed"]
        out["jvm.gc_ms"] = self.res["gc_ms"]
        out["jvm.cpu_ms_per_op"] = self.res["cpu_ms"] / self.res["timed_lines"]
        out["gen.sent"] = rep["sent"]
        out["gen.late_ms"] = metrics.late_summary(rep["late_ms"])[0]
        return out

    def summary(self):
        return (f"session {(self.res['session_ready_us'] - self.spawn_us) / 1e6:.2f} s, "
                f"set-up to {(self.res['timed_start_us'] - self.spawn_us) / 1e6:.2f} s; "
                "latestOffset median %.0f ms, first quarter %.0f ms, "
                "last quarter %.0f ms" % self.latest_offset())


BATCH_COLS = ["batch", "start_us", "commit_us", "rows", "latest_offset_ms",
              "get_batch_ms", "query_planning_ms", "wal_commit_ms",
              "add_batch_ms", "commit_offsets_ms", "trigger_ms"]


class QueryRun:
    """The raw records of one query_mix engine run."""

    def __init__(self, work, spawn_us):
        self.work = work
        with open(os.path.join(work, "result.json")) as f:
            self.res = json.load(f)
        self.spawn_us = spawn_us
        # (pass, query, build us, plan us, run us, rows, hash, scans,
        # exchanges)
        self.execs = self.res["executions"]

    def outputs(self):
        """Query -> the distinct (rows, hash) its timed executions gave."""
        out = {}
        for _p, q, _b, _pl, _r, rows, h, *_x in self.execs:
            out.setdefault(q, set()).add((rows, h))
        return out

    def check(self, expected):
        """(attempted, failed): every timed execution returns the row
        count and hash recorded in query_mix_expected.json."""
        want = {q: (v["rows"], v["hash"]) for q, v in expected.items()}
        bad = sum(1 for _p, q, _b, _pl, _r, rows, h, *_x in self.execs
                  if want.get(q) != (rows, h))
        return len(self.execs), bad

    def latencies(self):
        """Query -> build+plan+run times (ms) of its timed executions."""
        out = {q: [] for q in QUERIES}
        for _p, q, b, pl, r, *_x in self.execs:
            out[q].append((b + pl + r) / 1000.0)
        return out

    def end_to_end(self):
        lat = self.latencies()
        pooled = [v for vs in lat.values() for v in vs]
        p, tail, n = metrics.tail(pooled)
        self.tail_label = f"p{p:g} of {n}"
        return {
            "setup_s": (self.res["timed_start_us"] - self.spawn_us) / 1e6,
            "throughput_per_s": len(self.execs) / (sum(self.res["pass_us"]) / 1e6),
            "latency_p50_ms": metrics.geomean([metrics.median(v) for v in lat.values()]),
            "latency_tail_ms": tail,
            "peak_rss_mb": self.res["peak_rss_kb"] / 1024.0,
        }

    def layers(self):
        """Per-layer metrics of a traced run."""
        out = {}
        for q in QUERIES:
            ex = [e for e in self.execs if e[1] == q]
            for key, i in (("build_ms", 2), ("plan_ms", 3), ("run_ms", 4)):
                out[f"q.{q}.{key}"] = metrics.median([e[i] / 1000.0 for e in ex])
            jobs, tasks, shuffle = self.res["job_stats"][q]
            out[f"q.{q}.jobs"] = jobs / len(ex)
            out[f"q.{q}.tasks"] = tasks / len(ex)
            out[f"q.{q}.shuffle_bytes"] = shuffle / len(ex)
            out[f"q.{q}.scans"] = metrics.median([e[7] for e in ex])
            out[f"q.{q}.exchanges"] = metrics.median([e[8] for e in ex])
        out["jvm.gc_ms"] = self.res["gc_ms"]
        out["jvm.cpu_ms_per_op"] = self.res["cpu_ms"] / len(self.execs)
        spans = [(int(a), n, int(s), int(e), int(p)) for a, n, s, e, p
                 in read_csv(os.path.join(self.work, "spans.csv"))]
        for name, t in metrics.self_times(spans).items():
            out["self." + name + "_ms"] = t / 1000.0
        return out

    def summary(self):
        passes = ", ".join(f"{u / 1e6:.2f}" for u in self.res["pass_us"])
        return (f"session {(self.res['session_ready_us'] - self.spawn_us) / 1e6:.2f} s, "
                f"warm-up to {(self.res['timed_start_us'] - self.spawn_us) / 1e6:.2f} s; "
                f"passes {passes} s")


INGEST_LAYERS = [
    ("tcp.frames", "count"), ("tcp.receive_lag_ms", "ms"),
    ("spool.files", "count"), ("spool.lines_per_file", "count"),
    ("spool.durable_ms", "ms"), ("batch.count", "count"),
    ("batch.rows", "count"), ("batch.pickup_ms", "ms"),
    ("batch.latest_offset_ms", "ms"), ("batch.latest_offset_q1_ms", "ms"),
    ("batch.latest_offset_q4_ms", "ms"), ("batch.get_batch_ms", "ms"),
    ("batch.query_planning_ms", "ms"), ("batch.wal_commit_ms", "ms"),
    ("batch.add_batch_ms", "ms"), ("batch.commit_offsets_ms", "ms"),
    ("batch.trigger_ms", "ms"), ("sink.write_ms", "ms"),
    ("sink.files", "count"), ("config.parse_ms", "ms"),
    ("config.compile_ms", "ms"), ("gen.sent", "count"), ("gen.late_ms", "ms")]
QUERY_LAYERS = [(f"q.{q}.{k}", u) for q in QUERIES for k, u in (
    ("build_ms", "ms"), ("plan_ms", "ms"), ("run_ms", "ms"), ("jobs", "count"),
    ("tasks", "count"), ("shuffle_bytes", "bytes"), ("scans", "count"),
    ("exchanges", "count"))]
JVM_LAYERS = [("jvm.gc_ms", "ms"), ("jvm.cpu_ms_per_op", "ms")]
SPAN_NAMES = {
    "steady": ["session", "setup", "config.parse", "config.compile",
               "stream.start", "warmup", "timed", "batch", "sink.write"],
    "query": ["session", "warmup", "timed", "pass", "query.build",
              "query.plan", "query.run"]}
OVERHEAD = ["setup_s", "throughput_per_s", "latency_p50_ms"]


def per_layer_units():
    """Name -> unit of every per-layer metric, of both workloads."""
    units = dict(INGEST_LAYERS + QUERY_LAYERS + JVM_LAYERS)
    for names in SPAN_NAMES.values():
        for name in names:
            units["self." + name + "_ms"] = "ms"
    e2e = dict(E2E)
    for name in OVERHEAD:
        units["trace.overhead_" + name] = e2e[name]
    return units


def not_exercised(mode):
    """Per-layer metrics a workload does not exercise: reported as 0."""
    own = {"steady": dict(INGEST_LAYERS), "query": dict(QUERY_LAYERS)}[mode]
    spans = {"self." + n + "_ms" for n in SPAN_NAMES[mode]}
    return [n for n in per_layer_units()
            if (n in dict(INGEST_LAYERS + QUERY_LAYERS) and n not in own)
            or (n.startswith("self.") and n not in spans)]


def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def run_workload(mode, jars, work, seed, seconds, trace, deadline):
    """One engine run: (run records, attempted, failed)."""
    if mode == "steady":
        run = run_ingest(jars, work, seed, seconds, trace, deadline)
        attempted, failed = run.check()
    else:
        run = run_queries(jars, work, seed, seconds, trace, deadline)
        attempted, failed = run.check(load_expected())
    return run, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="query_mix: write the outputs of this run to "
                         "query_mix_expected.json instead of checking them")
    args = ap.parse_args()
    mode = WORKLOADS[args.workload]

    sources()  # fail before anything else when the engine is missing
    jars = spark_jars()
    build(jars)
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(BUILD, "work", args.workload)
    if args.record_expected:
        outputs = run_queries(jars, work, args.seed, args.seconds, False,
                              deadline).outputs()
        if any(len(v) != 1 for v in outputs.values()):
            raise SystemExit(f"perfbench: executions disagree: {outputs}")
        with open(EXPECTED, "w") as f:
            json.dump({q: dict(zip(("rows", "hash"), outputs[q].pop()))
                       for q in QUERIES}, f, indent=1, sort_keys=True)
            f.write("\n")
        return
    before = metrics.cpu_times()
    plain, attempted, failed = run_workload(
        mode, jars, work, args.seed, args.seconds, False, deadline)
    steal = metrics.steal_pct(before, metrics.cpu_times())
    e2e = plain.end_to_end()
    print(f"{args.workload} seed={args.seed}: latency_tail_ms is the "
          f"{plain.tail_label} samples; {plain.summary()}"
          + ("" if steal is None else f"; host CPU steal {steal:.1f}%"))
    units = dict(E2E)
    if args.trace:
        twork = work + "-traced"
        traced, a2, f2 = run_workload(
            mode, jars, twork, args.seed, args.seconds, True, deadline)
        attempted += a2
        failed += f2
        values = dict.fromkeys(per_layer_units(), 0.0)
        values.update(traced.layers())
        te2e = traced.end_to_end()
        print("untraced: " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
        print("traced:   " + ", ".join(f"{k}={v:.4g}" for k, v in te2e.items()))
        print(f"not exercised by {args.workload}, reported as 0: "
              + ", ".join(not_exercised(mode)))
        for name in OVERHEAD:
            values["trace.overhead_" + name] = te2e[name] - e2e[name]
        units = per_layer_units()
        with open(os.path.join(twork, "layers.txt"), "w") as f:
            for name in units:
                if name not in not_exercised(mode):
                    f.write(f"{name:40s} {values[name]:14.3f} {units[name]}\n")
        with open(os.path.join(twork, "layers.txt")) as f:
            sys.stdout.write(f.read())
    else:
        values = e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
