#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload loops_standing --seed 1 --seconds 6 --trace 0

Builds the engine and the harness from source once per source tree (sbt,
offline), generates the workload's inputs from the seed, runs one
`local[N]` Spark process for the workload, checks every output, and
prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (`--trace 0`) or every
per-layer metric (`--trace 1`). A fuller report — host stamp, checks,
per-layer self times, tracing overhead — is written under
`perfbench/.work/results/`, and spans of traced runs under
`perfbench/.work/traces/`. Exits non-zero on any failed check.

`--inject drop|dup|perturb` plants a known fault (a dropped or
duplicated frame, a perturbed query result) for the self-tests;
`--record-oracle` re-records the DuckDB oracle digests of the loop queries.
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
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from gen import CHECK_FIELDS  # noqa: E402  (the generator's checksum fields)

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
DEADLINE_S = 170

WORKLOADS = ["ingest_backfill", "loops_standing"]
# Input sizes; the why of each workload is in workloads.json.
BACKFILL_FRAMES = 30_000
MICRO_FRAMES = 20_000
# loops_standing reads one fixed table set (the oracle digests of its
# loop queries are stored for it); its seed orders the queries and draws
# the changelog
TABLES_SF = 0.01
TABLES_SEED = 42
ORACLE = os.path.join(HERE, "oracle_digests.json")
STREAM_OF = {"t": "ticker", "r": "trades", "o": "order-book", "k": "klines"}
LAYERS = ["sources", "ingest", "sinks", "queries", "streaming", "spark", "gen"]

SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error:", msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    pats = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "*.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main", "**", "*"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src", "**", "*")]
    return sorted(f for p in pats for f in glob.glob(p, recursive=True) if os.path.isfile(f))


def build():
    """Compile engine + harness once per source tree; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not beside perfbench/")
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, f"classpath-{h.hexdigest()}")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    log("building engine and harness (sbt, offline)")
    tmp = os.path.join(BUILD, "tmp")  # sbt's temporary files stay in the checkout
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{SBT_OPTS} -Djava.io.tmpdir={tmp}")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    cps = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    with open(stamp, "w") as f:
        f.write(cps[-1])
    return cps[-1]


# ---------------------------------------------------------------- host

def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cores():
    return len(os.sched_getaffinity(0))


def xmx():
    """heap for the one Spark process: a quarter of RAM, 2-4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"


# ---------------------------------------------------------------- stats

def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def covered(iv):
    total, cs, ce = 0, None, None
    for s, e in sorted(x for x in iv if x[1] > x[0]):
        if ce is None or s > ce:
            if ce is not None:
                total += ce - cs
            cs, ce = s, e
        else:
            ce = max(ce, e)
    return total + (ce - cs if ce is not None else 0)


def self_times(spans):
    """per layer: span duration minus the part its children cover, ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {l: 0.0 for l in LAYERS}
    for s in spans:
        iv = [(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
              for c in kids.get(s["id"], [])]
        own = (s["end_us"] - s["start_us"] - covered(iv)) / 1000.0
        if s["layer"] in out:
            out[s["layer"]] += own
    return out


# ---------------------------------------------------------------- checks

def observe_sinks(out):
    """what landed in the sinks: per format, per "stream|symbol", the row
    count and the checksums the generator's manifest also holds."""
    import pyarrow.parquet as pq
    res = {}
    for fmt in ("parquet", "json"):
        keys = res.setdefault(fmt, {})
        for sym_dir in glob.glob(os.path.join(out, "stream=*", f"fmt={fmt}", "symbol=*")):
            stream = sym_dir.split("stream=")[1].split("/")[0]
            key = f"{stream}|{sym_dir.split('symbol=')[1]}"
            num_f, str_f = CHECK_FIELDS[stream]
            acc = keys.setdefault(key, [0, 0, 0])
            for f in glob.glob(os.path.join(sym_dir, "*")):
                if os.path.basename(f).startswith((".", "_")):
                    continue
                if fmt == "parquet":
                    t = pq.read_table(f, columns=[num_f, str_f])
                    recs = zip(t[num_f].to_pylist(), t[str_f].to_pylist())
                else:
                    with open(f) as fh:
                        recs = [(o.get(num_f), o.get(str_f))
                                for o in map(json.loads, fh)]
                for num, text in recs:
                    acc[0] += 1
                    acc[1] += num or 0
                    acc[2] += zlib.crc32(text.encode("utf-8")) if text is not None else 0
    return res


def compare_sinks(observed, manifest, loaded):
    """frames of the loaded stream types whose (stream, symbol) rows or
    checksums differ from the manifest."""
    bad, detail = 0, []
    expected = {k: v for k, v in manifest["keys"].items() if k.split("|")[0] in loaded}
    for fmt, keys in sorted(observed.items()):
        for k, want in expected.items():
            got = keys.get(k)
            if got != [want["rows"], want["num_sum"], want["crc_sum"]]:
                bad += want["rows"]
                detail.append(f"{fmt}:{k} want {want['rows']} rows, got {got}")
        for k in set(keys) - set(expected):
            bad += keys[k][0]
            detail.append(f"{fmt}:{k} unexpected")
    return bad, detail


def canon(v):
    return "null" if v is None else str(v)


def digest(rows):
    return {"rows": len(rows), "sha1": hashlib.sha1("\n".join(sorted(rows)).encode()).hexdigest()}


def tables_sha1(tables_dir):
    h = hashlib.sha1()
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def duckdb_digests(run, tables_dir):
    """run the engine's own oracle SQL (SparkEntry.oracleSql) in DuckDB."""
    import duckdb
    with open(os.path.join(run, "oracle.json")) as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO %d" % cores())
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return {q: digest(["\t".join(canon(v) for v in r) for r in con.execute(text).fetchall()])
            for q, text in sorted(sql.items())}


def oracle_check(run, tables_dir, record):
    """each query's Spark rows (order-independent digest) against the
    DuckDB oracle's. The oracle's digests for the fixed table set are
    stored in oracle_digests.json; tables that differ from it (another
    numpy/pyarrow) are checked by running DuckDB here instead."""
    sha = tables_sha1(tables_dir)
    stored = None
    if os.path.exists(ORACLE) and not record:
        with open(ORACLE) as f:
            stored = json.load(f)
    if stored and stored["tables_sha1"] == sha:
        want = stored["digests"]
    else:
        log("tables differ from the recorded oracle digests; running DuckDB")
        want = duckdb_digests(run, tables_dir)
        if record:
            with open(ORACLE, "w") as f:
                json.dump({"tables_sf": TABLES_SF, "tables_seed": TABLES_SEED,
                           "tables_sha1": sha, "digests": want}, f, indent=1, sort_keys=True)
                f.write("\n")
    checks = []
    for q in sorted(want):
        path = os.path.join(run, "results", f"{q}.tsv")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            got = digest([l for l in f.read().split("\n") if l])
        checks.append({"name": f"oracle:{q}", "ok": got == want[q],
                       "detail": f"spark {got} oracle {want[q]}"})
    return checks


# ---------------------------------------------------------------- metrics

def frame_latencies(triggers, types, start_ms):
    """latency of every frame: commit of the trigger of its stream's query
    (named ingest-<stream>) that covered its offset, minus `start_ms`."""
    out = []
    for t in triggers:
        stream = t["query"].replace("ingest-", "")
        code = next(c for c, s in STREAM_OF.items() if s == stream)
        out += [t["commit_ms"] - start_ms
                for i in range(t["start_offset"], min(t["end_offset"], len(types)))
                if types[i] == code]
    return out


def ingest_layers(triggers, frames, sink_dirs):
    busy = [t for t in triggers if t["rows"] > 0]
    d = lambda k: [t["durations"].get(k, 0) for t in busy]
    files = nbytes = 0
    for sd in sink_dirs:
        for dp, _, fs in os.walk(sd):
            if "/_ckpt" in dp or "/_spark_metadata" in dp:
                continue
            for f in fs:
                if not f.startswith((".", "_")):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dp, f))
    # frames in the file but not yet committed, seen at each commit
    lag = max([frames - t["end_offset"] for t in triggers] or [0])
    return {
        "sources.frames_read_per_frame": sum(t["rows"] for t in triggers) / max(1, frames * len(sink_dirs)),
        "sources.latest_offset_ms": median(d("latestOffset")),
        "sources.get_batch_ms": median(d("getBatch")),
        "sources.lag_frames_max": float(lag),
        "ingest.triggers": float(len(busy)) / len(sink_dirs),
        "ingest.query_planning_ms": median(d("queryPlanning")),
        "ingest.add_batch_ms": median(d("addBatch")),
        "ingest.wal_commit_ms": median([a + b for a, b in zip(d("walCommit"), d("commitOffsets"))]),
        "sinks.bytes_per_frame": nbytes / max(1, frames * len(sink_dirs)),
        "sinks.files_per_trigger": files / max(1, len(busy)),
    }


def evaluate(workload, res, run, manifest, record):
    """(checks, attempted, failed, CPU ms per op, wall-clock figures,
    per-layer extras). An op is a frame drained (CPU per frame of the
    median drain), or a round of loops_standing."""
    checks = list(res["checks"])
    ops = res["ops"]
    layers = {}
    if workload == "ingest_backfill":
        frames, types = manifest["frames"], manifest["types"]
        attempted, failed, lats, rates = 0, 0, [], []
        drains = [o for o in ops if o["kind"] == "drain"]
        for o in drains:
            bad, detail = compare_sinks(observe_sinks(os.path.join(run, "sink", o["name"])),
                                        manifest, res["loaded"])
            checks.append({"name": f"sinks:{o['name']}", "ok": bad == 0, "detail": detail[:5]})
            attempted += frames
            failed += min(frames, bad)
            trig = [t for t in res["triggers"]
                    if o["start_us"] <= t["start_ms"] * 1000 <= o["end_us"]]
            lats += frame_latencies(trig, types, o["start_us"] / 1000.0)
            rates.append(frames / ((o["end_us"] - o["start_us"]) / 1e6))
        wall = {"ingest_frames_per_s": median(rates), "latency_p50_ms": quantile(lats, 0.5),
                "latency_p90_ms": quantile(lats, 0.9), "latency_samples": len(lats)}
        cpu_ms_per_op = median([o["cpu_us"] / 1000.0 / frames for o in drains])
        layers = ingest_layers(res["triggers"], frames,
                               [os.path.join(run, "sink", o["name"]) for o in drains])
    else:  # loops_standing: one op = a round, a cycle of the loop queries
        # and a changelog round, each absorb followed by its read
        checks += oracle_check(run, os.path.join(run, "data"), record)
        measured = [o for o in ops if o["kind"] in ("query", "absorb", "read")]
        n_ops = res["rounds"]
        cpu_ms_per_op = sum(o["cpu_us"] for o in measured) / 1000.0 / n_ops
        bad_q = {c["name"].split(":", 1)[1] for c in checks
                 if c["name"].startswith("oracle:") and not c["ok"]}
        attempted = len(measured)
        failed = sum(1 for o in measured if o["name"] in bad_q)
        ms = lambda kind: [(o["end_us"] - o["start_us"]) / 1000.0 for o in measured
                           if o["kind"] == kind]
        wall = {"query_total_s": sum(ms("query")) / 1000.0 / n_ops,
                "absorb_total_s": sum(ms("absorb")) / 1000.0 / n_ops,
                "read_p50_ms": quantile(ms("read"), 0.5)}
    failed += sum(1 for c in res["checks"] if not c["ok"])
    return checks, attempted, min(attempted, failed), cpu_ms_per_op, wall, layers


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["none", "drop", "dup", "perturb"], default="none")
    ap.add_argument("--record-oracle", action="store_true",
                    help="loops_standing: recompute the DuckDB oracle digests and store them")
    a = ap.parse_args()
    t_begin = time.time()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    cp = build()

    n_cores = cores()
    host = {"nproc": n_cores, "local": f"local[{n_cores}]", "xmx": xmx(),
            "loadavg_start": loadavg()}
    run = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    gen = os.path.join(HERE, "gen.py")
    py = [sys.executable, gen]
    # the traced run's microbench frames, written before set-up starts so
    # that setup_s compares like with like against untraced runs
    if a.trace:
        subprocess.run(py + ["backfill", "--out", os.path.join(run, "micro.jsonl"),
                             "--seed", str(a.seed + 2), "--frames", str(MICRO_FRAMES),
                             "--manifest", os.path.join(run, "micro-manifest.json")], check=True)
    t_start = time.time()  # setup_s: from here to the harness's setup end
    manifest = None
    gen_us = None  # the generator's own span: (start, end) epoch us
    if a.workload == "ingest_backfill":
        subprocess.run(py + ["backfill", "--out", os.path.join(run, "warm.jsonl"),
                             "--seed", str(a.seed + 1), "--frames", str(BACKFILL_FRAMES),
                             "--manifest", os.path.join(run, "warm-manifest.json")], check=True)
        g0 = time.time()
        subprocess.run(py + ["backfill", "--out", os.path.join(run, "frames.jsonl"),
                             "--seed", str(a.seed), "--frames", str(BACKFILL_FRAMES),
                             "--manifest", os.path.join(run, "manifest.json"),
                             "--inject", a.inject if a.inject in ("drop", "dup") else "none"],
                       check=True)
        gen_us = (int(g0 * 1e6), int(time.time() * 1e6))
    else:
        subprocess.run(py + ["tables", "--out", os.path.join(run, "data"),
                             "--seed", str(TABLES_SEED), "--sf", str(TABLES_SF)], check=True)

    cmd = (["java", f"-Xmx{host['xmx']}", f"-Djava.io.tmpdir={run}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            # compiler threads live as long as the JVM, so the CPU they
            # used can be left out of the per-op CPU (Recorder.cpuUs)
            "-XX:-UseDynamicNumberOfCompilerThreads"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--run-dir", run,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(n_cores), "--inject", a.inject])
    proc = subprocess.Popen(cmd, cwd=run, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the harness and anything it started
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0:
        fail(f"harness {'timed out' if rc is None else 'exited with %s' % rc}", 3)
    with open(os.path.join(run, "setup_end_ms")) as f:
        setup_s = (int(f.read()) / 1000.0) - t_start
    with open(os.path.join(run, "result.json")) as f:
        res = json.load(f)
    mpath = os.path.join(run, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)

    checks, attempted, failed, cpu_ms_per_op, wall, layers = evaluate(
        a.workload, res, run, manifest, a.record_oracle)
    if gen_us:
        layers["gen.write_ms"] = (gen_us[1] - gen_us[0]) / 1000.0
    host["loadavg_end"] = loadavg()
    e2e = {"setup_s": setup_s, "cpu_ms_per_op": cpu_ms_per_op}
    per_layer = dict(res["per_layer"])
    per_layer.update(layers)
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": host, "checks": checks,
              "attempted": attempted, "failed": failed, "e2e": e2e, "wall": wall,
              "ops": len(res["ops"])}
    if a.trace:
        spans = res["spans"]
        if gen_us:
            spans.append({"id": -1, "name": "generator", "layer": "gen", "parent": 1, "op": 0,
                          "start_us": gen_us[0], "end_us": gen_us[1]})
        st = self_times(spans)
        for l in LAYERS:
            per_layer[f"self_ms.{l}"] = st[l]
        report["self_ms"] = st
        report["trace_overhead"] = trace_overhead(a.workload, host, e2e)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump(spans, f)
    report["per_layer"] = per_layer

    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    source = per_layer if a.trace else e2e
    # a layer this workload does not exercise did no work: 0
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": units[n]} for n in names}
    unknown = sorted(set(source) - set(names))
    if unknown:
        checks.append({"name": "metric_names_match_BENCHMARK.json", "ok": False,
                       "detail": unknown})
    correct = all(c["ok"] for c in checks)
    report["correct"] = correct
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{int(t_begin)}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(run, ignore_errors=True)
    for c in checks:
        if not c["ok"]:
            log("check failed:", c["name"], c["detail"])
    print(json.dumps({"host": host, "wall": wall, "self_ms": report.get("self_ms"),
                      "trace_overhead": report.get("trace_overhead"),
                      "per_layer_measured": sorted(per_layer) if a.trace else None}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def trace_overhead(workload, host, traced):
    """traced vs untraced end-to-end, against the latest untraced runs of
    this workload on the same host stamp (None when there are none)."""
    same = []
    for p in glob.glob(os.path.join(WORK, "results", f"{workload}-s*-t0-*.json")):
        with open(p) as f:
            r = json.load(f)
        if (all(r["host"][k] == host[k] for k in ("nproc", "local", "xmx")) and r["correct"]
                and set(traced) <= set(r["e2e"])):
            same.append(r)
    if not same:
        return None
    base = {k: median([r["e2e"][k] for r in same]) for k in traced}
    return {k: traced[k] / base[k] - 1.0 for k in traced if base[k]}


if __name__ == "__main__":
    sys.exit(main())
