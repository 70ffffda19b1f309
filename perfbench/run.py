#!/usr/bin/env python3
"""graft benchmark: one command that builds graft, stages inputs, runs a
workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Everything the run makes goes under
`.perfbench/` in that checkout: the build stamp and classpath, the staged
inputs, a scratch directory per run (deleted at the end) and one JSON
record per run. The last stdout line is the result object
`{"correct", "attempted", "failed", "metrics"}`. See perfbench/README.md
for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
HEAP = "1g"
DATA_SEED = 42
GATE_SF = 0.01
SETUP_SAMPLES = 3
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

# name -> (scale factor of the generated inputs, [(query, graft module)]).
# Each workload has a heavy core (api on etl, dedup on dedup) and at least
# one query of every other graft module, so every per-module span is
# measured on both.
WORKLOADS = {
    "etl_sf0.02": (0.02, [
        ("q_flights_golden", "api"), ("q_csv_resolve", "api"),
        ("q_orc_roundtrip", "api"), ("q_resolve", "api"), ("q_ignore", "api"),
        ("q_udf_map", "api"), ("q6_filter_agg", "ops"), ("q_dedup_exact", "dedup"),
        ("q_ann_bruteforce", "similarity"), ("q_text_quality", "text"),
        ("q_stream_dedup", "streaming"), ("q_audio_decode", "multimodal")]),
    "dedup_sf0.02": (0.02, [
        ("q_dedup_ngram", "dedup"), ("q_dedup_minhash", "dedup"),
        ("q_dedup_embed_lsh", "dedup"), ("q_ann_bruteforce", "similarity"),
        ("q_text_quality", "text"), ("q_stream_dedup", "streaming"),
        ("q_multimodal_meta", "multimodal"), ("q_udf_map", "api"),
        ("q6_filter_agg", "ops")]),
}
MODULES = ["api", "dedup", "similarity", "text", "ops", "streaming", "multimodal"]
TRACE_LAYERS = [
    "catalyst.plan_s", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.failed_tasks", "scheduler.driver_gap_s", "exchange.write_mb",
    "exchange.read_mb", "spill.disk_mb", "scan.input_mb",
    "scan.input_records", "sink.output_mb", "executor.cpu_s", "executor.run_s",
    "executor.gc_s", "executor.busy_frac"]

# Spark on JDK 17 needs these opens when not launched by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    """sha256 over the relative path and bytes of every file under `paths`,
    skipping build output, so a source edit forces a rebuild."""
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(full)
            for f in fs if "/target" not in d)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt (offline) once per source
    state; returns the runtime classpath and the source stamp."""
    stamp = tree_digest(["src/main", "build.sbt", "project/build.properties",
                         "perfbench/harness/build.sbt", "perfbench/harness/project",
                         "perfbench/harness/src"])
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"], stamp
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp", "sbt")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in out.stdout.splitlines()
             if "perfbench" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip(), stamp


def fingerprint(d):
    """{table: [row count, sha256 of the file]} for a staged directory."""
    fp = {}
    for t in gen.TABLES:
        p = os.path.join(d, f"{t}.parquet")
        with open(p, "rb") as fh:
            fp[t] = [pq.ParquetFile(p).metadata.num_rows, hashlib.sha256(fh.read()).hexdigest()]
    return fp


def stage(sf):
    """Staged input directory for scale factor `sf`, generated on first use
    and reused only while every table matches the committed fingerprint."""
    with open(os.path.join(HERE, "inputs.json")) as fh:
        want = json.load(fh).get(f"sf{sf}")
    d = os.path.join(WORK, "data", f"sf{sf}")
    try:
        if want is not None and fingerprint(d) == want:
            return d, want
    except OSError:
        pass
    log(f"staging inputs at sf{sf}")
    shutil.rmtree(d, ignore_errors=True)
    gen.generate(d, sf, DATA_SEED)
    got = fingerprint(d)
    if want is not None and got != want:
        bad = sorted(t for t in got if got[t] != want.get(t))
        raise SystemExit(f"perfbench: staged tables differ from inputs.json: {bad}")
    return d, got


def java_cmd(classpath, tmp, args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main"] + args)


def launch(classpath, tmp, args):
    """Start the harness JVM; returns (seconds from spawn to READY, proc)."""
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_STREAM_SCRATCH=tmp)
    t0 = time.perf_counter()
    proc = subprocess.Popen(java_cmd(classpath, tmp, args), cwd=tmp, env=env,
                            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    line = proc.stdout.readline()
    ready = time.perf_counter() - t0
    if line.strip() != "READY":
        proc.kill()
        _, err = proc.communicate()
        sys.stderr.write(err[-4000:])
        raise SystemExit("perfbench: harness did not start")
    return ready, proc


def finish(proc, timeout):
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        _, err = proc.communicate()
        sys.stderr.write(err[-4000:])
        raise SystemExit("perfbench: harness timed out")
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")


def gate(classpath, stamp):
    """Small-scale correctness gate, run before any timing and once per
    build: every benchmark query is hashed on the sf0.01 inputs and
    compared with expected/gate_sf0.01.tsv. Returns {query: ok}."""
    path = os.path.join(WORK, "gate.json")
    expected = os.path.join(HERE, "expected", f"gate_sf{GATE_SF}.tsv")
    key = stamp + tree_digest([os.path.relpath(expected, ROOT),
                               os.path.relpath(os.path.join(HERE, "inputs.json"), ROOT)])
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("key") == key:
            return cached["ok"]
    data, _ = stage(GATE_SF)
    tmp = os.path.join(WORK, "tmp", f"gate-{int(time.time() * 1000)}")
    raw_path = os.path.join(tmp, "raw.json")
    queries = sorted({f"{q}:{m}" for _, qs in WORKLOADS.values() for q, m in qs})
    args = ["--mode", "check", "--data", data, "--cores", str(CORES), "--out", raw_path,
            "--expected", expected, "--queries", ",".join(queries)]
    try:
        _, p = launch(classpath, os.path.join(tmp, "run"), args)
        finish(p, RUN_TIMEOUT_S)
        with open(raw_path) as fh:
            ok = {c["query"]: c["ok"] for c in json.load(fh)["checks"]}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump({"key": key, "ok": ok}, fh)
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    sf, queries = WORKLOADS[a.workload]
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: run from the root of a graft checkout")

    classpath, stamp = build()
    gate_ok = gate(classpath, stamp)
    data, fp = stage(sf)
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}"
    tmp = os.path.join(WORK, "tmp", run_id)
    record_path = os.path.join(WORK, "records", f"{run_id}.json")
    os.makedirs(os.path.dirname(record_path), exist_ok=True)

    t_start = time.perf_counter()
    try:
        # set-up time: spawn to ready SparkSession, in fresh JVMs
        setups = []
        for i in range(SETUP_SAMPLES - 1):
            s, p = launch(classpath, os.path.join(tmp, f"probe{i}"), ["--mode", "probe"])
            finish(p, 60)
            setups.append(s)
        raw_path = os.path.join(tmp, "raw.json")
        args = ["--mode", "run", "--data", data, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(CORES), "--out", raw_path, "--expected", expected,
                "--queries", ",".join(f"{q}:{m}" for q, m in queries)]
        s, p = launch(classpath, os.path.join(tmp, "run"), args)
        setups.append(s)
        finish(p, RUN_TIMEOUT_S - (time.perf_counter() - t_start))
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    passes = raw["passes"]
    # pass 0 is cold (and hashes every result, untimed); the rest are timed,
    # except a traced run's first timed pass, a warm-up
    cold, warm = passes[0], passes[1 + a.trace:]
    plain = [p for p in warm if not p["traced"]]
    traced = [p for p in warm if p["traced"]]
    spans = [s for p in passes for s in p["spans"]]
    failed_spans = [s for s in spans if s["error"]]
    bad_checks = [c for c in raw["checks"] if not c["ok"]]
    bad_gate = [q for q, _ in queries if not gate_ok.get(q, False)]
    attempted = len(spans) + len(raw["checks"]) + len(queries)
    failed = len(failed_spans) + len(bad_checks) + len(bad_gate)

    def med_pass(ps, f):
        return statistics.median(f(p) for p in ps)

    if a.trace == 0:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_pass_s": (cold["wall_s"], "s"),
            "pass_s": (med_pass(plain, lambda p: p["wall_s"]), "s"),
            "peak_rss_mb": (raw["vmhwm_kb"] / 1024.0, "MB"),
        }
    else:
        metrics = {}
        for m in MODULES:
            for part in ("build_s", "action_s"):
                metrics[f"{m}.{part}"] = (med_pass(warm, lambda p: sum(
                    s[part] for s in p["spans"] if s["module"] == m and not s["error"])), "s")
        for k in TRACE_LAYERS:
            unit = k.rsplit(".", 1)[1].split("_")[-1]
            unit = {"s": "s", "mb": "MB", "frac": "fraction"}.get(unit, "count")
            metrics[k] = (med_pass(traced, lambda p: p["layers"][k]), unit)
        metrics["trace.overhead_s"] = (
            med_pass(traced, lambda p: p["wall_s"]) - med_pass(plain, lambda p: p["wall_s"]), "s")

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "cores": CORES, "heap": HEAP, "sf": sf,
        "inputs": fp, "setup_samples_s": setups,
        "calibration_s": raw["calibration_s"], "max_heap_mb": raw["max_heap_mb"],
        "timed_s": raw["timed_s"],
        "failed_frac": failed / attempted,
        "failed_queries": sorted({s["query"] for s in failed_spans}
                                 | {c["query"] for c in bad_checks} | set(bad_gate)),
        "gate_sf": GATE_SF, "gate_failed": bad_gate,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "passes": passes, "checks": raw["checks"],
    }
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1)
    log(f"record: {os.path.relpath(record_path, ROOT)}; passes={len(passes)} "
        f"failed={record['failed_queries']} calibration={raw['calibration_s']}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": record["metrics"]}))


if __name__ == "__main__":
    main()
