#!/usr/bin/env python3
"""graft benchmark: one seeded, single-client, closed-loop workload per run.

Usage (from the root of a graft checkout):
  python3 graftbench/run.py --workload <report_suite|corpus_curation|snapshot_upsert>
      --seed <n> --seconds <s> --trace <0|1>

The first run builds graft's library and the harness with sbt (see
build.sbt here) and caches the classpath; later runs reuse it until a
source file changes. Each run generates its inputs from the seed, launches
fresh JVMs with a Spark session on local[<nproc>], and prints detail lines
followed by one summary JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Every catalog run also compares each op's result with the DuckDB oracle
(`SparkEntry.oracleSql`) on the generated inputs; a mismatch is a failed op.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".graftbench_work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BENCH, "target", "source.stamp")
JVM_TIMEOUT = 150
BUILD_TIMEOUT = 850
# The heap is fixed and touched at start-up, so it adds the same to the
# JVM's resident memory on every run; peak_mem_mb counts what the program
# drives instead (see end_to_end).
HEAP = "3g"

# confs that change rows if missing; a run without them is refused
ROW_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.extensions": "graft.plans.GraftExtensions",
}
# graft.Bench's performance confs: a difference is reported, not refused
PERF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "65536",
    "spark.shuffle.sort.bypassMergeThreshold": "200",
    "spark.sql.codegen.cache.maxEntries": "8192",
    "spark.memory.offHeap.enabled": "true",
    "spark.memory.offHeap.size": "6g",
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = []
    for top in (LIB_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark install whose bin/ holds a spark-submit on PATH and whose
    jars/ the build compiles against (pip's pyspark shim has no jars/)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
        home = os.path.dirname(home)
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(
                os.path.join(home, "jars")):
            return home
    fail("no Spark install found: set SPARK_HOME")


def build():
    if not os.path.isdir(LIB_SRC):
        fail(f"graft sources not found under {os.path.relpath(LIB_SRC, ROOT)}; "
             "run from the root of a graft checkout")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip()
    log("building graft and the harness with sbt ...")
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false -Xmx2g"
                       f" -Dsbt.global.base={os.path.join(WORK, 'sbt-global')}").strip()
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    os.makedirs(WORK, exist_ok=True)
    logf = os.path.join(WORK, "build.log")
    t = time.time()
    with open(logf, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT).returncode
        except (subprocess.TimeoutExpired, FileNotFoundError) as e:
            fail(f"build failed: {e}")
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(logf).read()[-4000:])
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t:.1f} s")
    return open(CLASSPATH).read().strip()


# ---- JVM launches -------------------------------------------------------------

def launch(classpath, run_dir, name, props):
    """Runs the harness with `props`; returns its result JSON."""
    props = dict(props)
    props["out"] = os.path.join(run_dir, f"{name}.json")
    if "snap_root" in props:
        props["snap_root"] = os.path.join(run_dir, f"snapshot-{name}")
    conf = os.path.join(run_dir, f"{name}.properties")
    with open(conf, "w") as fh:
        for k, v in props.items():
            fh.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Harness", conf]
    logf = os.path.join(run_dir, f"{name}.log")
    props_launch = time.time()
    with open(conf, "a") as fh:
        fh.write(f"launch_ms={props_launch * 1e3:.3f}\n")
    with open(logf, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT).returncode
        except subprocess.TimeoutExpired:
            fail(f"{name}: harness timed out after {JVM_TIMEOUT} s")
    if rc != 0 or not os.path.exists(props["out"]):
        sys.stderr.write(open(logf).read()[-4000:])
        fail(f"{name}: harness exit {rc}")
    with open(props["out"]) as fh:
        return json.load(fh)


# ---- statistics ------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Value at the highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond). When that percentile would not lie
    above the median (21 samples or fewer), it is the maximum instead, so
    the figure always reads the slow end."""
    xs = sorted(xs)
    n = len(xs)
    rank = n - 10
    if rank <= (n + 1) / 2:
        return (xs[-1] if xs else float("nan")), 100.0, 0
    return xs[rank - 1], round(100.0 * rank / n, 1), n - rank


def metric(value, unit, n=None, **extra):
    d = {"value": value, "unit": unit}
    if n is not None:
        d["n"] = n
    d.update(extra)
    return d


# ---- checks -------------------------------------------------------------------

def check_conf(conf):
    missing = {k: v for k, v in ROW_CONFS.items() if conf.get(k) != v}
    if missing:
        fail(f"row-affecting session confs missing or changed: {missing} "
             f"(effective: { {k: conf.get(k) for k in missing} })", code=3)
    return {k: {"want": v, "got": conf.get(k)} for k, v in PERF_CONFS.items()
            if conf.get(k) != v}


def check_catalog(res):
    """Every op must succeed and return the same digest on every pass."""
    bad = []
    cold = {}
    for op in res["ops"]:
        if not op["ok"]:
            bad.append((op["pass"], op["name"], op["err"]))
            continue
        key = op["name"]
        sig = (op["rows"], op["digest"])
        if key not in cold:
            cold[key] = sig
        elif cold[key] != sig:
            bad.append((op["pass"], key, f"digest {sig} != cold {cold[key]}"))
            op["ok"] = False
    return bad


def check_snapshot(res, plan, replay):
    bad = []
    by_pass = {}
    for op in res["ops"]:
        by_pass.setdefault(op["pass"], []).append(op)
        if not op["ok"]:
            bad.append((op["pass"], op["name"], op["err"]))
    for p, ops in by_pass.items():
        b = plan[p]
        looks = [o for o in ops if o["kind"] == "lookup"]
        for o, key, (rev, crc) in zip(looks, b["lookups"], b["expect"]):
            want = f"{rev}:{crc}"
            if o["ok"] and (o["info"].get("key") != str(key) or o["info"].get("found") != want):
                bad.append((p, "lookup", f"key {key}: got {o['info'].get('found')} want {want}"))
                o["ok"] = False
        for o in ops:
            if o["kind"] == "changes" and o["ok"] and (
                    o["rows"] != b["rows"] or int(o["digest"]) != b["digest"]):
                bad.append((p, "changes", f"rows {o['rows']} digest {o['digest']} "
                                          f"want {b['rows']} {b['digest']}"))
                o["ok"] = False
    merges = int(res["snapshot"]["merges"])
    rows, digest = replay(merges)
    got = (int(res["snapshot"]["table_rows"]), int(res["snapshot"]["table_digest"]))
    if got != (rows, digest):
        bad.append((merges, "final_table", f"got {got} want {(rows, digest)}"))
    return bad


# ---- summaries ------------------------------------------------------------------

def warm_passes(res, traced=None):
    return [p for p in res["passes"] if p["pass"] > 0
            and (traced is None or p["traced"] == traced)]


def end_to_end(res, snapshot):
    warm = warm_passes(res, traced=False)
    read_kind = "lookup" if snapshot else "read"
    reads = [o["wall_s"] for o in res["ops"] if o["kind"] == read_kind and o["pass"] > 0
             and o["ok"]]
    tv, tp, tb = tail(reads)
    # resident memory beyond the pre-touched heap: off-heap execution
    # memory, metaspace, code cache, thread stacks, network buffers
    native = res["peak_rss_mb"] - res["heap_committed_mb"]
    m = {
        "setup_s": metric(res["setup_s"], "s", 1),
        "cold_s": metric(res["passes"][0]["wall_s"], "s", 1),
        "warm_s": metric(median([p["wall_s"] for p in warm]), "s", len(warm)),
        "read_p50_s": metric(median(reads), "s", len(reads)),
        "read_tail_s": metric(tv, "s", len(reads), percentile=tp, beyond=tb),
        "cpu_s": metric(median([p["cpu_s"] for p in warm]), "cpu-s", len(warm)),
        "peak_mem_mb": metric(res["live_heap_peak_mb"] + native, "MB", 1),
    }
    extra = {
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB", 1),
        "live_heap_peak_mb": metric(res["live_heap_peak_mb"], "MB", len(res["passes"]) + 1),
        "native_peak_mb": metric(native, "MB", 1),
    }
    if snapshot:
        writes = [o["wall_s"] for o in res["ops"] if o["kind"] == "write" and o["ok"]]
        wv, wp, wb = tail(writes)
        s = res["snapshot"]
        extra.update({
            "write_p50_s": metric(median(writes), "s", len(writes)),
            "write_tail_s": metric(wv, "s", len(writes), percentile=wp, beyond=wb),
            "space_amp": metric(int(s["root_bytes"]) / max(1, int(s["live_bytes"])), "ratio", 1),
        })
    return m, extra


PER_LAYER_SUM = [
    "construct_s", "construct_jobs", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.delay_s", "driver.gap_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.deser_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.write_s",
    "spill.mem_mb", "spill.disk_mb", "scan.input_mb", "scan.rows", "scan.tasks", "fs.commit_s"]
FAMILIES = ["task", "extended", "report", "dedup", "text", "vector"]
SNAP_MEDIAN = {"write": ["snap.merge_scan_s", "snap.merge_write_s", "snap.commit_s",
                         "snap.files_touched", "snap.files_written", "snap.write_mb",
                         "snap.write_amp"],
               "lookup": ["snap.prune_ratio"], "compact": ["snap.compact_s"]}
PER_LAYER_UNITS = {"_s": "s", "_mb": "MB", "_kb": "KB", "_ratio": "ratio", "_amp": "ratio"}


def unit_of(name):
    for suf, u in PER_LAYER_UNITS.items():
        if name.endswith(suf):
            return u
    return "count"


def per_layer_names():
    names = list(PER_LAYER_SUM) + ["exec.peak_mem_mb"] + [f"op.{f}_s" for f in FAMILIES]
    names += ["codegen.compile_s", "codegen.classes", "memo.cached_mb", "memo.block_puts",
              "memo.evicted_blocks", "memo.hit_ratio"]
    for ms in SNAP_MEDIAN.values():
        names += ms
    names += ["snap.files_live", "snap.manifest_kb", "trace.warm_s", "trace.overhead_ratio"]
    return names


def per_layer(res, wl):
    family = {op: f for f, ops in wl.get("families", {}).items() for op in ops}
    traced = warm_passes(res, traced=True)
    untraced = warm_passes(res, traced=False)
    ids = sorted(p["pass"] for p in traced)
    ops = [o for o in res["ops"] if o["pass"] in ids]
    out = {}

    def per_pass(fn):
        return median([fn([o for o in ops if o["pass"] == p]) for p in ids])

    for k in PER_LAYER_SUM:
        out[k] = per_pass(lambda xs, k=k: sum(o["m"].get(k, 0.0) for o in xs))
    out["exec.peak_mem_mb"] = per_pass(
        lambda xs: max([o["m"].get("exec.peak_mem_mb", 0.0) for o in xs] or [0.0]))
    for f in FAMILIES:
        out[f"op.{f}_s"] = per_pass(
            lambda xs, f=f: sum(o["wall_s"] for o in xs if family.get(o["name"]) == f))
    g = {p["pass"]: p["gauges"] for p in res["passes"]}
    g0 = res["gauges_before"]
    out["codegen.compile_s"] = g[0]["codegen.compile_s"] - g0["codegen.compile_s"]
    out["codegen.classes"] = g[0]["codegen.classes"] - g0["codegen.classes"]
    last = ids[-1]
    out["memo.cached_mb"] = g[last]["memo.cached_mb"]
    out["memo.block_puts"] = median(
        [g[p]["memo.block_puts"] - g[p - 1]["memo.block_puts"] for p in ids])
    out["memo.evicted_blocks"] = g[last]["memo.evicted_blocks"] - g0["memo.evicted_blocks"]
    hits = [o["m"]["memo.hit"] for o in ops if "memo.hit" in o["m"]]
    out["memo.hit_ratio"] = sum(hits) / len(hits) if hits else 0.0
    for kind, ms in SNAP_MEDIAN.items():
        for k in ms:
            src = ops if kind != "compact" else res["ops"]
            vals = [o["m"][k] for o in src if o["kind"] == kind and k in o["m"]]
            out[k] = median(vals) if vals else 0.0
    s = res["snapshot"]
    out["snap.files_live"] = float(s.get("files_live", 0))
    out["snap.manifest_kb"] = int(s.get("manifest_bytes", 0)) / 1024.0
    tw = median([p["wall_s"] for p in traced])
    out["trace.warm_s"] = tw
    out["trace.overhead_ratio"] = tw / median([p["wall_s"] for p in untraced])
    return {k: metric(out[k], unit_of(k), None) for k in per_layer_names()}


def span_check(spans_path):
    """Within each traced op, span self times must sum to its wall time."""
    spans = [json.loads(line) for line in open(spans_path)]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for x in spans:
        kids.setdefault(x["parent"], []).append(x["id"])
    worst = 0.0
    for s in spans:
        if s["kind"] != "op":
            continue
        total, stack = 0.0, [s["id"]]
        while stack:
            i = stack.pop()
            total += by_id[i]["self_ms"]
            stack += kids.get(i, [])
        worst = max(worst, abs(total - (s["end_ms"] - s["start_ms"])))
    return len(spans), worst


# ---- main -----------------------------------------------------------------------

def passes(wl, traced):
    """Passes one run makes: the cold pass plus the workload's fixed
    `warm_passes`; a traced run makes at least four warm passes, two traced
    and two not. So every run of every commit measures the same work and
    the same number of samples."""
    return 1 + max(wl["warm_passes"], 4 if traced else 0)


def load1():
    return os.getloadavg()[0]


def main():
    # a terminated run must still stop its JVM: subprocess.run kills the
    # child when the wait is interrupted by an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    workloads = json.load(open(os.path.join(BENCH, "workloads.json")))
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; have {sorted(workloads)}")
    wl = workloads[a.workload]
    classpath = build()
    sys.path.insert(0, BENCH)
    import gen

    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    load_before = load1()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        snapshot = a.workload == "snapshot_upsert"
        props = {"workload": a.workload, "data": data, "cores": cores,
                 "work": run_dir, "trace": a.trace, "passes": passes(wl, a.trace),
                 "spans": os.path.join(run_dir, "spans.jsonl")}
        t = time.time()
        if snapshot:
            plan, inputs = gen.snapshot_inputs(
                data, a.seed, wl["base_mult"], props["passes"], wl["batch_updates"],
                wl["batch_inserts"], wl["lookups_per_batch"])
            with open(os.path.join(run_dir, "batches.tsv"), "w") as fh:
                for b in plan:
                    fh.write(f"{b['path']}\t{','.join(map(str, b['lookups']))}\n")
            props.update({"snap_root": "per-launch",
                          "snap_base": os.path.join(data, "snapshot_base.parquet"),
                          "snap_batches": os.path.join(run_dir, "batches.tsv"),
                          "compact_every": wl["compact_every"],
                          "cluster_parts": wl["cluster_parts"]})
            ops = []
        else:
            inputs = gen.generate(data, a.seed, wl["inputs"])
            ops = [op for f in wl["families"].values() for op in f]
            props.update({"tables": ",".join(wl["tables"]), "ops": ",".join(ops)})
        gen_s = time.time() - t

        if not snapshot:
            props["check_dir"] = os.path.join(run_dir, "check")
            props["check_ops"] = ",".join(op for op in ops if op not in wl.get("oracle_skip", {}))
        t = time.time()
        res = launch(classpath, run_dir, "run", props)
        jvm_s = time.time() - t
        load_after = load1()

        conf_diff = check_conf(res["conf"])
        t = time.time()
        if snapshot:
            bad = check_snapshot(res, plan, lambda k: replay(gen, data, plan, k))
            oracle = {}
        else:
            bad = check_catalog(res)
            oracle = oracle_check(data, props["check_dir"], props["check_ops"].split(","))
            wrong = {k for k, v in oracle.items() if v != "PASS"}
            bad += [(0, k, oracle[k]) for k in sorted(wrong)]
            for o in res["ops"]:
                o["ok"] = o["ok"] and o["name"] not in wrong
        check_s = time.time() - t + res["check_dump_s"]
        failed = sum(1 for o in res["ops"] if not o["ok"])
        if bad and not failed:  # a final-table mismatch fails the run's last op
            failed = 1
        attempted = len(res["ops"])
        e2e, extra = end_to_end(res, snapshot)
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "machine": {"nproc": cores, "load1_before": load_before, "load1_after": load_after},
            "inputs": inputs, "gen_s": round(gen_s, 3),
            "ops": ops if ops else ["merge", "latest_version", "lookup", "changes", "compact"],
            "passes": [{k: p[k] for k in ("pass", "wall_s", "traced", "cpu_s")}
                       for p in res["passes"]],
            "op_walls": op_walls(res),
            "end_to_end": dict(e2e, **extra,
                               fail_ratio=metric(failed / attempted, "ratio", attempted)),
            "oracle": oracle, "check_s": round(check_s, 3), "jvm_s": round(jvm_s, 3),
            "conf_diff_vs_bench": conf_diff,
            "failures": bad[:20],
        }
        if a.trace:
            layers = per_layer(res, wl)
            nspans, worst = span_check(props["spans"])
            # the run directory is removed below; keep the spans
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(props["spans"], os.path.join(traces, f"{a.workload}-{a.seed}.spans.jsonl"))
            detail["per_layer"] = layers
            detail["spans"] = {"count": nspans, "max_self_sum_error_ms": worst}
            detail["tracing_overhead_ratio"] = layers["trace.overhead_ratio"]["value"]
            metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()}
        print(json.dumps({"detail": detail}))
        print(json.dumps({"effective_conf": res["conf"]}))
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def op_walls(res):
    """Per op name: cold wall, median warm wall and warm sample count."""
    out = {}
    for o in res["ops"]:
        d = out.setdefault(o["name"], {"cold_s": None, "warm": []})
        if o["pass"] == 0:
            d["cold_s"] = d["cold_s"] or o["wall_s"]
        elif o["ok"]:
            d["warm"].append(o["wall_s"])
    return {k: {"cold_s": v["cold_s"], "warm_p50_s": median(v["warm"]), "n": len(v["warm"])}
            for k, v in out.items()}


def replay(gen, data, plan, k):
    """Expected (rows, digest) of the table after the first k batches."""
    import pyarrow.parquet as pq
    base = pq.read_table(os.path.join(data, "snapshot_base.parquet")).to_pylist()
    state = {r["doc_id"]: r for r in base}
    for b in plan[:k]:
        for r in pq.read_table(b["path"]).to_pylist():
            state[r["doc_id"]] = r
    rows = [gen.row_hash(*(r[c] for c in gen.SNAP_COLS)) for r in state.values()]
    return len(rows), sum(rows)


def same_column(want, got):
    """Cell-exact, except that floating-point cells may differ by 1e-9
    relative: a double sum's last digit depends on the order the engine
    adds in (on some seeds q1_pricing_summary's round(sum, 2) lands one
    cent apart from DuckDB's)."""
    import numpy as np
    if want.dtype.kind == "f" or got.dtype.kind == "f":
        try:
            a, b = want.to_numpy(dtype=float), got.to_numpy(dtype=float)
        except (TypeError, ValueError):
            return False
        return bool(np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True).all())
    return bool((want.astype(str) == got.astype(str)).all())


def oracle_check(data, out, ops):
    """Compares each dumped op result with DuckDB running the op's
    `SparkEntry.oracleSql` on the generated inputs, in the canonical form of
    the repository's tools/parity.py (columns by name, rows sorted). Ops
    without an oracle (approximate ANN entries) are skipped. Returns
    {op: "PASS" | reason}."""
    import duckdb
    import pandas as pd
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True) if len(df) else df

    verdicts = {}
    for name in ops:
        if name not in oracle:
            continue
        try:
            want = canon(con.sql(oracle[name]).df())
            got = canon(pd.read_parquet(os.path.join(out, name)))
            if list(want.columns) != list(got.columns):
                verdicts[name] = f"columns {list(got.columns)} want {list(want.columns)}"
            elif len(want) != len(got):
                verdicts[name] = f"rows {len(got)} want {len(want)}"
            else:
                diff = [c for c in want.columns if not same_column(want[c], got[c])]
                verdicts[name] = f"values differ in {diff}" if diff else "PASS"
        except Exception as e:  # a missing dump or a failing oracle is a mismatch
            verdicts[name] = f"{type(e).__name__}: {str(e)[:200]}"
    return verdicts


if __name__ == "__main__":
    sys.exit(main())
