#!/usr/bin/env python3
"""Benchmark runner for the library in the enclosing checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Builds the library and the harness from source into `.bench_build/` (once
per source state), runs one workload in a fresh JVM on local[4], checks
every op's output, and prints as the LAST stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's `end_to_end` set (from the untraced ops); with
--trace 1 they are its `per_layer` set (from the traced ops). A detail
line with per-op figures precedes it. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"  # the same jars the library's own build.sbt uses

WORKLOADS = ["iforest_train", "iforest_batch_score", "store_txn_loop", "ann_persisted_probe"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
# Per-layer metrics each workload reports (see README.md); every workload
# also reports RUNTIME. Units follow from the name, see unit().
LAYERS = {
    "iforest_train": [
        "fit.s", "fit.jobs", "fit.count_s", "fit.sample_s", "fit.shuffle_write_bytes",
        "fit.threshold_s", "fit.driver_gap_s", "build.task_s", "build.max_task_s",
        "build.forest_bytes", "save.s", "save.fs_write_ops", "save.bytes_written", "auc"],
    "iforest_batch_score": [
        "score.threshold_s", "score.threshold_merge_task_s", "score.sink_s", "score.task_s",
        "score.rows", "score.jobs", "score.driver_gap_s", "load.s", "load.jobs",
        "scan.input_bytes", "respread.s", "respread.shuffle_write_bytes"],
    "store_txn_loop": [
        "store.reset_s", "store.bases_s", "store.absorb_s", "store.decontam_s", "store.mix_s",
        "store.jobs", "store.driver_gap_s", "store.fs_read_ops", "store.fs_write_ops",
        "store.bytes_written", "store.write_amp", "store.bytes_on_disk"],
    "ann_persisted_probe": [
        "ann.lsh_s", "ann.ivf_s", "ann.pq_s", "ann.ivfpq_s", "ann.jobs", "ann.driver_gap_s",
        "ann.fs_read_ops", "ann.rebuilds"],
}
RUNTIME = ["spark.tasks", "spark.task_failures", "spark.gc_s", "spark.fetch_wait_s",
           "spark.spill_bytes", "jvm.jit_ms", "trace.overhead"]
E2E = {"setup_s": "s", "op_s_p50": "s", "op_s_tail": "s", "peak_rss_mb": "MB"}


def unit(name):
    if name in E2E:
        return E2E[name]
    if name in ("auc", "trace.overhead", "store.write_amp"):
        return "ratio"
    if name == "jvm.jit_ms":
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles library + harness unless this source state is already built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no library sources under src/main/scala")
    digest = source_digest()
    marker = os.path.join(BUILD, "built.sha256")
    if os.path.exists(marker) and open(marker).read() == digest and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]))
    log("building library + harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (rc={rc}), see .bench_build/build.log")
    with open(marker, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(workload, seed, seconds, trace, smoke):
    """Runs one workload in a fresh JVM with a fresh work dir and tmpdir;
    returns (result dict, work dir)."""
    work = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed, pre-touched heap makes peak RSS independent of G1's heap
    # sizing decisions, which otherwise vary by hundreds of MB run to run
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.callstack.depth=400", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", work]
           + (["--smoke"] if smoke else []))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {workload} JVM stopped")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"{workload} JVM timed out after {JVM_TIMEOUT_S} s")
            stop()
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: {workload} JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh), work


def oracle_mismatch(work):
    """q158's rows (written by the set-up) against its DuckDB oracle,
    normalised as tools/oracle_check.py does, compared as row multisets."""
    import duckdb
    with open(os.path.join(work, "q158_oracle.sql")) as fh:
        sql = fh.read()
    con = duckdb.connect()
    docs = os.path.join(work, "data", "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    got = con.execute("SELECT * FROM read_parquet('"
                      + os.path.join(work, "q158_output.parquet", "*.parquet") + "')").fetchdf()
    want = con.execute(sql).fetchdf()

    def sig(df):
        def cell(v):
            if isinstance(v, float):
                return round(v, 6)
            if hasattr(v, "isoformat"):
                return v.isoformat()
            if isinstance(v, bytes):
                return v.hex()
            return v
        df = df[sorted(df.columns)]
        return sorted((tuple(cell(v) for v in t) for t in df.itertuples(index=False)), key=repr)

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    a, b = sig(got), sig(want)
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)}"
    if a != b:
        return "values differ from the oracle: " + repr([x for x in zip(a, b) if x[0] != x[1]][:2])
    if not a:
        return "empty output"
    return None


def tail(times):
    """The highest of p99.9/p99/p95/p90/p75/p50 with at least 10 ops beyond
    it; with fewer than 20 ops no such percentile exists and the max is
    reported (percentile 100, 0 ops beyond)."""
    s = sorted(times)
    n = len(s)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return s[max(0, math.ceil(p / 100 * n) - 1)], p, n - math.ceil(p / 100 * n)
    return s[-1], 100, 0


def measure(workload, seed, seconds, trace, smoke=False):
    res, work = run_jvm(workload, seed, seconds, trace, smoke)
    ops = res["ops"]
    errors = [o["error"] for o in ops if o.get("error")]
    problems = list(res["setup_mismatches"])
    if workload == "store_txn_loop":
        bad = oracle_mismatch(work)
        if bad:
            # every op equals the set-up's output, which the oracle rejects
            problems.append("q158 oracle: " + bad)
            errors = [bad] * len(ops)
    untraced = [o["s"] for o in ops if o["phase"] == "timed"]
    traced = [o["s"] for o in ops if o["phase"] == "traced"]
    p50 = statistics.median(untraced)
    tval, tpct, tbeyond = tail(untraced)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_s_p50": p50,
        "op_s_tail": tval,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    extra = res["extra"]
    per_layer = dict(res["layers"], **extra)
    if trace:
        per_layer["trace.overhead"] = statistics.median(traced) / p50
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "setup_s": res["setup_s"],
        "phases_s": {k: round(v, 2) for k, v in res["phases_s"].items()},
        "op_s": {ph: [round(o["s"], 4) for o in ops if o["phase"] == ph]
                 for ph in ("warmup", "timed", "traced")},
        "jit_ms_per_op": [o["jit_ms"] for o in ops],
        "gc_ms_per_op": [o["gc_ms"] for o in ops],
        "op_s_tail_percentile": tpct, "op_s_tail_ops_beyond": tbeyond,
        "error_rate": len(errors) / len(ops),
        "errors": errors[:3], "problems": problems[:3],
    }
    detail.update(extra)
    if trace:
        detail["layers"] = {k: per_layer[k] for k in LAYERS[workload] + RUNTIME}
        detail["span_accounting"] = res["span_accounting"]
        spans = os.path.join(BUILD, "traces", f"{workload}-s{seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), spans)
        detail["spans"] = os.path.relpath(spans, ROOT)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": not errors and not problems,
        "attempted": len(ops), "failed": len(errors),
        "e2e": e2e, "per_layer": per_layer, "detail": detail,
    }


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(m, trace):
    """The summary line: BENCHMARK.json's end_to_end (trace 0) or per_layer
    (trace 1) metrics. A per-layer metric of a layer this workload does not
    run reads 0."""
    declared = spec()["per_layer" if trace else "end_to_end"]
    got = m["per_layer" if trace else "e2e"]
    missing = [d["name"] for d in declared if d["name"] in E2E and d["name"] not in got]
    if missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    return {"correct": m["correct"], "attempted": m["attempted"], "failed": m["failed"],
            "metrics": {d["name"]: {"value": got.get(d["name"], 0), "unit": d["unit"]}
                        for d in declared}}


def smoke():
    """One untraced and one traced op per workload on sf0.001-sized inputs.
    Fails unless every metric named for the workload is produced, with the
    unit BENCHMARK.json declares for it, and every op's check passes."""
    s = spec()
    declared = {d["name"]: d["unit"] for d in s["end_to_end"] + s["per_layer"]}
    ok = True
    for w in WORKLOADS:
        m = measure(w, 1, 0.01, True, smoke=True)
        produced = dict(m["e2e"], **m["per_layer"])
        for name in list(E2E) + LAYERS[w] + RUNTIME:
            if not isinstance(produced.get(name), (int, float)):
                log(f"smoke {w}: metric {name} not produced")
                ok = False
            elif declared.get(name, unit(name)) != unit(name):
                log(f"smoke {w}: {name} unit {unit(name)} != declared {declared[name]}")
                ok = False
        for trace in (False, True):
            result_line(m, trace)
        if not m["correct"]:
            log(f"smoke {w}: check failed: {m['detail']['errors'] or m['detail']['problems']}")
            ok = False
        print(json.dumps(m["detail"]))
    print(json.dumps({"smoke": "ok" if ok else "failed", "workloads": WORKLOADS}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    build()
    if a.smoke:
        return smoke()
    if not a.workload:
        ap.error("--workload is required")
    m = measure(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(m["detail"]))
    print(json.dumps(result_line(m, bool(a.trace)), separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
