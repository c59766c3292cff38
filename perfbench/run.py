#!/usr/bin/env python3
"""CDC relay benchmark: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark's JVM side (perfbench/scala) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the classes
while the sources are unchanged. Inputs are generated from the seed, the
program's outputs are checked, and the last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the run also records spans and writes them, with per-layer
metrics and self times, to <build dir>/traces/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# The Spark distribution the program is built against: $SPARK_HOME, else
# the one whose spark-submit is on the PATH.
SPARK_JARS = os.path.join(
    os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or "."))), "jars")
DATA = os.path.join(HERE, "data", "sf0.001")
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# A run is one short-lived JVM. With the default tiered compiler, C2
# recompilation kept speeding operations up for the first ~20 s of a run
# (a drain went 7.2 s -> 4.0 s over five repetitions), so medians depended
# on how much of the window fell in that phase. C1 alone reaches its
# steady state within the untimed warm-up; a fixed-size heap and the
# parallel collector remove heap-growth pauses from the first operations.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g"]
JVM_TIMEOUT_S = 150

# Workload definitions. Sizes are fixed here, not by flags, and each run
# times a fixed number of operations ("ops", per 16 s of --seconds), never
# as many as fit a time window: a slower host then takes longer for the
# same work instead of doing a different mix of it. Only the seed changes
# the inputs.
OPS_PER_16S = {"relay_drain": 3, "analytics_mix": 3, "dedup_stream": 2}
RELAY_DRAIN = {"files": 270, "per_file": 60, "replay_share": 0.05}
ANALYTICS_QUERIES = [
    "cdc_full_event_json", "cdc_dedup_windowed", "cdc_scd2", "rel_join3",
    "rel_asof_join", "rel_pagerank", "dedup_neardup_pairs", "vec_lsh_ann"]
# One file per epoch. compact_every is below the program's default of 16 so
# that the store compacts inside a run. An op is one whole compaction cycle
# of compact_every epochs; the store compacts at epochs 4, 8, 12, ..., so
# after the two warm epochs every cycle holds exactly one compaction.
DEDUP_STREAM = {"per_file": 20, "recrawl_share": 0.1, "warm_epochs": 2,
                "compact_every": 4}


def n_ops(workload, seconds):
    return max(1, round(OPS_PER_16S[workload] * seconds / 16))


def median(xs):
    return statistics.median(xs) if xs else 0.0


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


# ---------------------------------------------------------------- build

def build(root, work):
    """Compile program + benchmark sources once per source content."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        raise SystemExit("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(work, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(work, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources")
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("compile failed")
    os.replace(tmp, out)
    return out


# ------------------------------------------------------------------ jvm

def run_jvm(classes, rundir, **conf):
    """Run the JVM side to completion and return its result file."""
    log("inputs ready, starting JVM")
    os.makedirs(os.path.join(rundir, "tmp"), exist_ok=True)
    cmd = (["java"] + OPENS + JVM_FLAGS +
           [f"-Djava.io.tmpdir={rundir}/tmp",
            "-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}",
            "perfbench.BenchMain", f"dir={rundir}"] +
           [f"{k}={v}" for k, v in conf.items()])
    with open(os.path.join(rundir, "jvm.log"), "wb") as logf:
        proc = subprocess.Popen(cmd, cwd=rundir, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(os.path.join(rundir, "jvm.log"), "rb") as f:
        out = f.read().decode(errors="replace")
    if code != 0:
        sys.stderr.write(out[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {code}")
    for line in out.splitlines():
        if line.startswith("[perfbench-jvm]"):
            log(line)
    with open(os.path.join(rundir, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------- shared helpers

def progress_of(res, run):
    return sorted((p for p in res["progress"] if p["run"] == run),
                  key=lambda p: p["batch"])


def batch_files(chk):
    """File name -> epoch, from the file source's log in the checkpoint."""
    out = {}
    for p in glob.glob(os.path.join(chk, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def read_cols(path, cols):
    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        return []
    con = checks.duckdb.connect()
    try:
        return con.sql(
            f"SELECT {', '.join(cols)} FROM read_parquet("
            f"'{path}/**/*.parquet', hive_partitioning = true)").fetchall()
    finally:
        con.close()


def dir_stats(path):
    files = [p for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True)]
    return len(files), sum(os.path.getsize(p) for p in files)


def state_sum(progress, key):
    return sum(s.get(key, 0) for p in progress for s in p["state"])


def state_custom(progress, key):
    return sum(s["custom"].get(key, 0) for p in progress for s in p["state"])


def trigger_layers(progress):
    """Per-epoch trigger phases (StreamingQueryProgress.durationMs)."""
    data = [p for p in progress if p["rows"] > 0]
    empty = [p for p in progress if p["rows"] == 0]
    d = lambda p, k: p["duration_ms"].get(k, 0)  # noqa: E731
    return {
        "epochs": len(progress), "nodata_epochs": len(empty),
        "offset_ms": median([d(p, "latestOffset") for p in data]),
        "plan_ms": median([d(p, "queryPlanning") for p in data]),
        "wal_ms": median([d(p, "walCommit") for p in data]),
        "commit_ms": median([d(p, "commitOffsets") for p in data]),
        "add_batch_ms": median([d(p, "addBatch") for p in data]),
        "fixed_ms": median([d(p, "triggerExecution") - d(p, "addBatch")
                            for p in data]),
        "nodata_ms": median([d(p, "triggerExecution") for p in empty]),
    }


PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets"]


def epoch_spans(progress, parent, trace_prefix):
    """Synthesized spans for each epoch: the trigger, and inside it the
    phases of durationMs laid end to end in execution order."""
    out = []
    for p in progress:
        sid = f"{trace_prefix}e{p['batch']}"
        start = p["start_us"]
        total = p["duration_ms"].get("triggerExecution", 0) * 1000
        out.append({"id": sid, "name": "epoch", "start_us": start,
                    "end_us": start + total, "parent": parent,
                    "trace": sid, "rows": p["rows"]})
        t = start
        for ph in PHASES:
            dur = p["duration_ms"].get(ph, 0) * 1000
            if dur:
                out.append({"id": f"{sid}.{ph}", "name": f"epoch.{ph}",
                            "start_us": t, "end_us": t + dur, "parent": sid,
                            "trace": sid})
                t += dur
    return out


def reparent_jobs(spans):
    """Spark jobs of a stream run on the stream's thread; give each the
    innermost synthesized phase span that contains its start."""
    phases = sorted((s for s in spans if s["name"].startswith("epoch.")),
                    key=lambda s: s["start_us"])
    for s in spans:
        if s["name"] != "spark.job" or not str(s["trace"]).startswith("epoch-"):
            continue
        for ph in phases:
            if ph["start_us"] <= s["start_us"] <= ph["end_us"]:
                s["parent"] = ph["id"]
                s["trace"] = ph["trace"]
                break


def covered_us(spans, lo, hi):
    """Length of the union of the spans' intervals, clipped to [lo, hi]."""
    total, cur = 0, None
    for a, b in sorted((max(lo, s["start_us"]), min(hi, s["end_us"]))
                       for s in spans):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            total += cur[1] - cur[0] if cur else 0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0)


def self_times(spans):
    """Self time per span name: duration minus the part of it that child
    spans cover. The report passes the spans that start inside the timed
    window."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        agg = out.setdefault(s["name"], [0, 0.0, 0.0])
        agg[0] += 1
        agg[1] += (hi - lo) / 1e6
        agg[2] += (hi - lo - covered_us(kids.get(s["id"], []), lo, hi)) / 1e6
    return {k: {"count": v[0], "total_s": round(v[1], 6),
                "self_s": round(v[2], 6)} for k, v in out.items()}


# ------------------------------------------------------------ workloads

def relay_drain(classes, rundir, seed, ops, trace):
    w = RELAY_DRAIN
    files, replay_events = gen.cdc_files(seed, w["files"], w["per_file"],
                                         w["replay_share"])
    inp = os.path.join(rundir, "in")
    gen.stage_files(inp, files)
    landed = [(n, int(n[1:6])) for n, _ in files]
    unique = w["files"] * w["per_file"]
    res = run_jvm(classes, rundir, workload="relay_drain", ops=ops,
                  trace=trace, input=inp)
    attempted = failed = 0
    notes, eps, drain_ms, per_rep = [], [], [], []
    for op in res["ops"]:
        prog = progress_of(res, op["run"])
        dups = state_custom(prog, "numDroppedDuplicateRows")
        a, f, n = checks.check_relay(
            landed, w["per_file"], read_cols(op["out"], ["event_id", "msg_id"]),
            dups, replay_events)
        if not op["ok"]:
            f, n = a, n + [op["err"]]
        attempted, failed, notes = attempted + a, failed + f, notes + n
        dt = (op["end_us"] - op["start_us"]) / 1e6
        eps.append(unique / dt)
        drain_ms.append(dt * 1000)
        per_rep.append((prog, dups))
    log("drain ms: " + " ".join(f"{x:.0f}" for x in drain_ms))
    e2e = {"work_per_s": (median(eps), "1/s"),
           "op_p50_ms": (median(drain_ms), "ms")}
    table = {"events_per_s": (median(eps), "1/s"),
             "drains": (len(res["ops"]), "count")}
    layers = {}
    if trace:
        reps = [trigger_layers(p) for p, _ in per_rep]
        for k in reps[0]:
            layers["relay." + k] = (median([r[k] for r in reps]),
                                    "count" if "epochs" in k else "ms")
        layers.update(state_layers(per_rep, replay_events))
        lay = res["layers"]
        n_rows = unique + replay_events
        enc = lay["scan_encode_s"] - lay["scan_s"]
        layers["scan.s"] = (lay["scan_s"], "s")
        layers["encode.s"] = (enc, "s")
        layers["encode.events_per_s"] = (n_rows / enc if enc > 0 else 0.0, "1/s")
        layers["sink.s"] = (lay["scan_encode_sink_s"] - lay["scan_encode_s"], "s")
        nf, nb = dir_stats(res["ops"][0]["out"])
        layers["sink.files"] = (nf, "count")
        layers["sink.bytes"] = (nb, "B")
    layers.update(gen_layers(len(files), unique + replay_events,
                             sum(n.endswith("r") for n, _ in files)))
    spans = res["spans"]
    if trace:
        for op in res["ops"]:
            drain = next((s for s in spans if s["name"] == "drain"
                          and s["trace"] == op["tag"]), None)
            spans += epoch_spans(progress_of(res, op["run"]),
                                 drain["id"] if drain else 0, op["tag"] + ".")
    return res, attempted, failed, notes, e2e, table, layers


def state_layers(per_rep, injected):
    def m(f):
        return median([f(p, d) for p, d in per_rep])
    return {
        "state.rows_peak": (m(lambda p, d: max((s["rows_total"] for x in p
                                               for s in x["state"]), default=0)), "count"),
        "state.bytes_peak": (m(lambda p, d: max((s["mem_bytes"] for x in p
                                                for s in x["state"]), default=0)), "B"),
        "state.update_ms": (m(lambda p, d: state_sum(p, "update_ms")), "ms"),
        "state.remove_ms": (m(lambda p, d: state_sum(p, "remove_ms")), "ms"),
        "state.commit_ms": (m(lambda p, d: state_sum(p, "commit_ms")), "ms"),
        "state.dup_dropped": (m(lambda p, d: d), "count"),
        "state.late_dropped": (m(lambda p, d: state_sum(p, "dropped_by_watermark")), "count"),
        "state.dup_recall": (m(lambda p, d: d / injected if injected else 1.0), "ratio"),
    }


def gen_layers(files, events, replays):
    return {"gen.files": (files, "count"), "gen.events": (events, "count"),
            "gen.replays": (replays, "count")}


def analytics_mix(classes, rundir, seed, ops, trace, work):
    data = os.path.join(rundir, "data")
    gen.relayout(DATA, data, seed)
    res = run_jvm(classes, rundir, workload="analytics_mix", ops=ops,
                  trace=trace, data=data, queries=",".join(ANALYTICS_QUERIES))
    with open(os.path.join(rundir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    expected = checks.oracle_results(DATA, oracle_sql, os.path.join(work, "oracle"))
    ops = res["ops"]
    check_ops = [o for o in ops if o["pass"] == -1]
    timed = [o for o in ops if o["pass"] >= 0]
    outputs = {o["name"]: (checks.read_output(os.path.join(rundir, "check", o["name"]))
                           if o["ok"] else f"failed: {o['err']}") for o in check_ops}
    a, f, notes = checks.check_queries(expected, outputs)
    bad = [o for o in timed if not o["ok"]]
    notes += [f"{o['name']} pass {o['pass']}: {o['err']}" for o in bad[:3]]
    attempted, failed = a + len(timed), f + len(bad)
    dur = [(o["end_us"] - o["start_us"]) / 1e6 for o in timed if o["ok"]]
    log("execution s: " + " ".join(f"{x:.2f}" for x in dur))
    passes = {}
    for o in timed:
        passes.setdefault(o["pass"], []).append((o["end_us"] - o["start_us"]) / 1e6)
    log("pass s: " + " ".join(f"{sum(v):.2f}" for v in passes.values()))
    per_q = {}
    for o in timed:
        if o["ok"]:
            per_q.setdefault(o["name"], []).append(o)
    qmed = {n: median([(o["end_us"] - o["start_us"]) / 1e6 for o in v])
            for n, v in per_q.items()}
    groups = {"cdc": 0.0, "rel": 0.0, "dedup": 0.0}
    for n, v in qmed.items():
        groups[per_q[n][0]["group"]] += v
    # executions per second of the per-query medians, so one slow execution
    # does not move the rate
    e2e = {"work_per_s": (len(qmed) / sum(qmed.values()) if qmed else 0.0, "1/s"),
           "op_p50_ms": (median([sum(v) for v in passes.values()]) * 1000, "ms")}
    table = {f"{g}_s": (v, "s") for g, v in groups.items()}
    table["executions"] = (len(timed), "count")
    table["queries_timed"] = (len(per_q), "count")
    layers = {}
    if trace:
        for n in ANALYTICS_QUERIES:
            v = per_q.get(n, [])
            layers[f"q.{n}.construct_s"] = (median([o["construct_s"] for o in v]), "s")
            layers[f"q.{n}.action_s"] = (median([o["action_s"] for o in v]), "s")
        ex = res["exec"]["groups"]
        layers["stage.jobs"] = (sum(v["jobs"] for k, v in ex.items()
                                    if k.endswith(":construct")), "count")
        layers["stage.construct_s"] = (sum(median([o["construct_s"] for o in v])
                                           for v in per_q.values()), "s")
        for g in groups:
            for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_mb", "tasks"):
                layers[f"exec.{g}.{k}"] = (sum(v[k] for gk, v in ex.items()
                                               if gk.startswith(g + ":")),
                                           "count" if k == "tasks" else
                                           ("MB" if k.endswith("mb") else "s"))
    return res, attempted, failed, notes, e2e, table, layers


def dedup_stream(classes, rundir, seed, ops, trace):
    w = DEDUP_STREAM
    texts = gen.pq.read_table(os.path.join(DATA, "documents.parquet"),
                              columns=["text"]).column("text").to_pylist()
    n_files = w["warm_epochs"] + ops * w["compact_every"]
    files, survivors = gen.doc_stream(seed, texts, n_files, w["per_file"],
                                      w["recrawl_share"])
    inp = os.path.join(rundir, "in")
    os.makedirs(inp)
    t = 1700000000
    for i, rows in enumerate(files):
        p = os.path.join(inp, f"{i:05d}.parquet")
        gen.write_docs(p, rows)
        os.utime(p, (t + i, t + i))
    res = run_jvm(classes, rundir, workload="dedup_stream", ops=ops,
                  trace=trace, input=inp, epochs=n_files,
                  warm_epochs=w["warm_epochs"], compact_every=w["compact_every"])
    op = res["ops"][0]
    prog = progress_of(res, op["run"])
    epoch_of = batch_files(op["chk"])
    file_of = {b: int(n.split(".")[0]) for n, b in epoch_of.items()}
    committed = {p["batch"] for p in prog if p["batch"] in file_of}
    got = {file_of[b]: [] for b in committed}
    for doc_id, b in read_cols(op["out"], ["doc_id", "batch_id"]):
        if b in committed:
            got[file_of[b]].append(doc_id)
    attempted, failed, notes = checks.check_dedup(survivors, got, op["err"])
    counted = [p for p in prog if w["warm_epochs"] <= p["batch"] < n_files]
    ep_ms = [p["duration_ms"].get("triggerExecution", 0) for p in counted]
    log("epoch ms: " + " ".join(str(x) for x in ep_ms))
    docs = sum(p["rows"] for p in counted)
    e2e = {"work_per_s": (docs / (sum(ep_ms) / 1000) if ep_ms else 0.0, "1/s"),
           "op_p50_ms": (median(ep_ms), "ms")}
    table = {"docs_per_s": e2e["work_per_s"], "epoch_p50_ms": e2e["op_p50_ms"],
             "epochs": (len(prog), "count")}
    layers = {}
    if trace:
        gens = sorted(-int(os.path.basename(p).split("=")[1]) for p in
                      glob.glob(os.path.join(op["store"], "batch_id=-*")))
        compact = [p for p in counted if p["batch"] in gens]
        plain = [p for p in counted if p["batch"] not in gens]
        ab = lambda ps: [p["duration_ms"].get("addBatch", 0) for p in ps]  # noqa: E731
        quarter = len(ep_ms) // 4
        growth = (median(ep_ms[3 * quarter:]) / median(ep_ms[quarter:2 * quarter])
                  if quarter else 1.0)
        nf, nb = dir_stats(op["store"])
        n_surv = sum(len(v) for v in got.values())
        n_docs = w["per_file"] * len(got)
        n_exp = sum(len(survivors[f]) for f in got)
        layers = {
            "store.add_batch_ms": (median(ab(plain)), "ms"),
            "store.compact_ms": (median(ab(compact)), "ms"),
            "store.compactions": (len(compact), "count"),
            "store.epoch_growth": (growth, "ratio"),
            "store.files": (nf, "count"), "store.bytes": (nb, "B"),
            "store.generations": (len(gens), "count"),
            "store.survivors": (n_surv, "count"),
            "store.dup_recall": ((n_docs - n_surv) / (n_docs - n_exp)
                                 if n_docs > n_exp else 1.0, "ratio"),
        }
        res["spans"] += epoch_spans(prog, 0, "dedup.")
    n_docs = n_files * w["per_file"]
    layers.update(gen_layers(len(files), n_docs,
                             n_docs - sum(len(v) for v in survivors.values())))
    return res, attempted, failed, notes, e2e, table, layers


# ------------------------------------------------------------------ main

# Per-layer metrics in the result line of a traced run. Every workload
# reports every one of them: layers it bypasses read 0.
PER_LAYER = [
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.peak_mem_mb", "MB"),
    ("exec.tasks", "count"), ("exec.jobs", "count"), ("exec.skew", "ratio"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"), ("jvm.cleanups", "count"),
    ("self.jobs_s", "s"), ("self.outside_jobs_s", "s"),
    ("traced.setup_s", "s"), ("traced.work_per_s", "1/s"),
    ("traced.op_p50_ms", "ms"),
    ("relay.epochs", "count"), ("relay.nodata_epochs", "count"),
    ("state.rows_peak", "count"), ("state.dup_dropped", "count"),
    ("state.late_dropped", "count"), ("stage.jobs", "count"),
    ("store.generations", "count"), ("store.files", "count"),
    ("gen.files", "count"), ("gen.events", "count"), ("gen.replays", "count"),
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[
        "relay_drain", "analytics_mix", "dedup_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM unwind normally, so the JVM is killed and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("run from the repository root: src/main/scala/graft not found")
        sys.exit(2)
    work = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build(root, work)
    rundir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        args = (classes, rundir, a.seed, n_ops(a.workload, a.seconds), a.trace)
        if a.workload == "relay_drain":
            out = relay_drain(*args)
        elif a.workload == "analytics_mix":
            out = analytics_mix(*args, work)
        else:
            out = dedup_stream(*args)
        res, attempted, failed, notes, e2e, table, layers = out
        e2e = {"setup_s": (res["setup_s"], "s"), **e2e}
        report(a, work, res, attempted, failed, notes, e2e, table, layers)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def correct(attempted, failed):
    """A run is correct only if it attempted something and nothing failed."""
    return attempted > 0 and failed == 0


def report(a, work, res, attempted, failed, notes, e2e, table, layers):
    log("checked")
    for n in notes[:10]:
        log(f"check: {n}")
    rows = dict(e2e)
    rows["failed_share"] = (failed / attempted if attempted else 1.0, "share")
    rows.update(table)
    metrics = dict(e2e)
    if a.trace:
        spans = res["spans"]
        reparent_jobs(spans)
        lo, hi = res["window_start_us"], res["window_end_us"]
        jobs = [s for s in spans if s["name"] == "spark.job"]
        busy = covered_us(jobs, lo, hi) / 1e6
        ex = (res["exec"] or {}).get("total", {})
        lay = {n: (ex.get(n[5:], 0.0), u) for n, u in PER_LAYER
               if n.startswith("exec.")}
        units = dict(PER_LAYER)
        lay.update({f"jvm.{k}": (v, units[f"jvm.{k}"]) for k, v in res["jvm"].items()})
        lay["self.jobs_s"] = (busy, "s")
        lay["self.outside_jobs_s"] = ((hi - lo) / 1e6 - busy, "s")
        for k, (v, u) in e2e.items():
            lay[f"traced.{k}"] = (v, u)
        lay.update(layers)
        metrics = {n: (lay.get(n, (0, u))[0], u) for n, u in PER_LAYER}
        rows.update(lay)
        selfs = self_times([s for s in spans if lo <= s["start_us"] <= hi])
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        path = os.path.join(work, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "window_us": [lo, hi],
                       "metrics": {k: {"value": v, "unit": u}
                                   for k, (v, u) in rows.items()},
                       "self_times": selfs, "spans": spans}, f)
        print(f"trace: {path}")
        print(f"{'span':<28}{'count':>7}{'total_s':>11}{'self_s':>11}")
        for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"{k:<28}{v['count']:>7}{v['total_s']:>11.3f}{v['self_s']:>11.3f}")
    for k, (v, u) in rows.items():
        print(f"{k:<34}{v:>16.6g} {u}")
    print(json.dumps({
        "correct": correct(attempted, failed), "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
