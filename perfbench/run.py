#!/usr/bin/env python3
"""The graft benchmark: one command per workload.

    python3 perfbench/run.py --workload ask-miss --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark drivers from source (sbt, offline) into `perfbench/target`;
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from `--seed` under `.bench_build/`, runs the
workload in one JVM, checks the outputs, prints every metric by name with
unit and direction, a summary line, and as the last line the JSON result.
The full record goes to `.bench_build/results/`.

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. `--size tiny` shrinks every input (smoke test).
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
# the engine's own DuckDB oracle comparison (tools/check.py)
sys.path.insert(0, str(ROOT / "tools"))

import gen  # noqa: E402

WORKLOADS = ("ask-miss", "ask-zipf", "batch-queries")
BATCH_QUERIES = ("q_bm25_compact", "q_cm_stream", "q_simhash_pairs", "q_join_revenue",
                 "q_skew_join")

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("latency_ms", "ms", "lower"),
    ("goodput_per_s", "1/s", "higher"),
]
PER_LAYER = [
    ("latency_tail_ms", "ms", "lower"),
    ("Embed.query_ms_p50", "ms", "lower"),
    ("Embed.query_ms_p99", "ms", "lower"),
    ("ResidentCache.lookup_ms_p50", "ms", "lower"),
    ("ResidentCache.lookup_ms_p99", "ms", "lower"),
    ("ResidentCache.apply_ms_p99", "ms", "lower"),
    ("ResidentCache.hit_frac", "frac", "higher"),
    ("ResidentCache.size", "count", "lower"),
    ("GraphIndex.walk_ms_p50", "ms", "lower"),
    ("GraphIndex.walk_ms_p99", "ms", "lower"),
    ("GraphIndex.walk_calls", "count", "lower"),
    ("Retrieval.context_ms_p50", "ms", "lower"),
    ("AskPipeline.generate_ms_p50", "ms", "lower"),
    ("AskServer.self_ms_p50", "ms", "lower"),
    ("AskServer.self_ms_p99", "ms", "lower"),
    ("setup.session_s", "s", "lower"),
    ("Ingest.chunk_s", "s", "lower"),
    ("Embed.corpus_s", "s", "lower"),
    ("GraphIndex.build_s", "s", "lower"),
    ("GraphIndex.gate_recall", "frac", "higher"),
    ("GraphIndex.recall_at_3", "frac", "higher"),
    ("GraphIndex.hot_s", "s", "lower"),
    ("setup.spark_jobs", "count", "lower"),
    ("setup.shuffle_mb", "MB", "lower"),
]
for _q in BATCH_QUERIES:
    PER_LAYER += [(f"{_q}.wall_s", "s", "lower"), (f"{_q}.jobs", "count", "lower"),
                  (f"{_q}.driver_gap_s", "s", "lower"), (f"{_q}.shuffle_mb", "MB", "lower")]
PER_LAYER += [
    ("q_join_revenue.widest_stage_tasks", "count", "higher"),
    ("q_skew_join.widest_stage_tasks", "count", "higher"),
    ("spark.tasks", "count", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("loadgen.lag_ms_p99", "ms", "lower"),
    ("loadgen.sent", "count", "higher"),
    ("loadgen.ok", "count", "higher"),
    ("trace.overhead_frac", "frac", "lower"),
    ("jvm.heap_live_mb", "MB", "lower"),
]

# input sizes: documents in the /ask corpus, TPC-H scale of the batch
# tables, warm-up asks (JIT + cache fill) per /ask workload
SIZES = {
    "full": {"ask_docs": 600, "batch_sf": 0.01, "warmup": {"ask-miss": 1080, "ask-zipf": 300}},
    "tiny": {"ask_docs": 200, "batch_sf": 0.001, "warmup": {"ask-miss": 100, "ask-zipf": 60}},
}
# queries generated per /ask stream: more than any run sends, or every
# distinct window the corpus has (ask-miss); the ladder stops short of
# running out
STREAM = 4000
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every source and build file the benchmark compiles."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the drivers once per source state; returns
    the runtime classpath."""
    cp_file, fp_file = BUILD / "classpath.txt", BUILD / "fingerprint"
    fp = fingerprint()
    if cp_file.exists() and fp_file.exists() and fp_file.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # offline resolution from the pre-filled local caches
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}")
    # keep sbt's scratch files inside the checkout too
    (BUILD / "tmp").mkdir(exist_ok=True)
    env["JAVA_OPTS"] = (env.get("JAVA_OPTS", "") +
                        f" -XX:-UsePerfData -Djava.io.tmpdir={BUILD / 'tmp'}").strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime / fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        die(f"build failed (exit {rc}); see {log}")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        die(f"build printed no classpath; see {log}")
    cp_file.write_text(cp)
    fp_file.write_text(fp)
    return cp


def make_inputs(workload, seed, size):
    """Generate (once per workload, seed and size) the run's input tables."""
    s = SIZES[size]
    version = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:8]
    d = BUILD / "data" / f"{workload}-s{seed}-{size}-sf{s['batch_sf']}-d{s['ask_docs']}-g{version}"
    if (d / "DONE").exists():
        return d
    shutil.rmtree(d, ignore_errors=True)
    if workload == "batch-queries":
        gen.generate(str(d), seed, s["batch_sf"])
    else:
        tables = gen.generate(str(d), seed, 0.0001, docs=s["ask_docs"])
        texts = tables["documents"].column("text").to_pylist()
        q = gen.ask_queries(texts, seed, workload, n_stream=STREAM,
                            n_warmup=s["warmup"][workload])
        (d / "queries.json").write_text(json.dumps(q))
    (d / "DONE").write_text("ok\n")
    return d


def oracle_check(data, outputs):
    """The queries whose output does not match its DuckDB oracle, by the
    engine's own tools/check.py; its report goes to `<outputs>/check.log`."""
    import check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = check.main(str(data), str(outputs))
    report = buf.getvalue()
    (outputs / "check.log").write_text(report)
    bad = [line[5:] for line in report.splitlines() if line.startswith("FAIL ")]
    return bad or ([f"tools/check.py exited {rc}"] if rc else [])


def run_jvm(cp, workload, seed, seconds, traced, data, work, size):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", workload, str(seed), str(seconds),
              "traced" if traced else "plain", str(data), str(work), size])
    with open(work / "jvm.log", "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"workload timed out after {JVM_TIMEOUT_S} s; see {work / 'jvm.log'}")
    rec = work / "record.json"
    if rc != 0 or not rec.exists():
        tail = (work / "jvm.log").read_text().splitlines()[-15:]
        die(f"workload JVM failed (exit {rc}):\n" + "\n".join(tail))
    return json.loads(rec.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args()
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no graft sources under {ROOT}: run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    t0 = time.time()
    cp = build()
    data = make_inputs(a.workload, a.seed, a.size)
    mode = "traced" if a.trace else "plain"
    work = BUILD / "runs" / f"{a.workload}-s{a.seed}-{mode}-{a.size}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, work, a.size)

    failures = list(rec["failures"])
    failed, attempted = rec["failed"], rec["attempted"]
    if a.workload == "batch-queries":
        bad = oracle_check(data, work / "outputs")
        attempted += len(BATCH_QUERIES)
        failed += len(bad)
        failures += [f"oracle mismatch: {b}" for b in bad]

    wanted = PER_LAYER if a.trace else END_TO_END
    # a layer this workload never calls did no work: it reports 0
    metrics = {n: {"value": float(rec["metrics"].get(n, {"value": 0.0})["value"] or 0.0),
                   "unit": u} for n, u, _ in wanted}
    correct = failed == 0
    for n, u, better in wanted:
        print(f"{n:<42} {metrics[n]['value']:>16.6f} {u:<6} {better} is better")
    for f in failures[:10]:
        print(f"FAILURE {f}")
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = results / f"{a.workload}-s{a.seed}-{mode}-{a.size}.json"
    out.write_text(json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "mode": mode,
        "size": a.size, "correct": correct, "attempted": attempted, "failed": failed,
        "failures": failures, "wall_s": time.time() - t0, "metrics": metrics,
        "all_metrics": rec["metrics"], "info": rec["info"]}, indent=1))
    if not a.trace:
        key = [n for n, _, _ in END_TO_END]
    elif a.workload == "batch-queries":
        key = [f"{q}.wall_s" for q in BATCH_QUERIES] + ["spark.tasks", "trace.overhead_frac"]
    else:
        key = ["Embed.query_ms_p50", "ResidentCache.lookup_ms_p50", "ResidentCache.hit_frac",
               "GraphIndex.walk_ms_p50", "AskServer.self_ms_p50", "trace.overhead_frac"]
    summary = (f"SUMMARY workload={a.workload} seed={a.seed} mode={mode} correct={str(correct).lower()} "
               f"attempted={attempted} failed={failed} "
               + " ".join(f"{k}={metrics[k]['value']:.4g}" for k in key) + f" record={out.relative_to(ROOT)}")
    print(summary[:1024])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
