#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload events_scaled --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The first run builds graft and the
driver with sbt (offline) into .bench_build/ (or $CARGO_TARGET_DIR);
later runs reuse the build while the sources are unchanged. The run
generates the workload's inputs from the seed, starts one driver JVM on
half the cores, checks every output, and prints the metrics. The last
stdout line is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

MB = 1e6
EVENTS_SCALE = 1
DOCS_SEED = 20240101  # documents and embeddings are fixed inputs

WORKLOADS = {
    # the paper's pipeline (per-match aggregation, heatmap, pass segments)
    # on a seeded multi-file events table, then the write path: data work
    # in tasks, shuffles and writes
    "events_scaled": {
        "keys": ["q_match_stats", "q_heatmap2d", "q_pass_segments"],
        "seeded_inputs": True,
        "write": True,
    },
    # the connected-components job train that runs while the DataFrame is
    # built; the single-split embeddings scan makes Tables.spread fire
    "dedup_iterative": {
        "keys": ["q_dedup_embedding_clusters"],
        "seeded_inputs": False,
        "write": False,
    },
}

END_TO_END = [("wall_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s"),
              ("setup_s", "s"), ("peak_rss_mb", "MB")]

JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + [
    # The JIT stops at C1. With C2, pass times fall for ten passes or more
    # while it compiles the driver-side Catalyst code, and settle at a
    # different speed in each JVM. C1 needs no profile, so its thresholds
    # are a tenth of the default: methods compile during the cold pass and
    # the passes after it are flat, so a run of a minute measures a steady
    # state.
    "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
    # A fixed young generation: G1 otherwise sizes it by the GC time it
    # measures, so the peak resident memory followed the machine's speed
    # more than the program's old-generation use.
    "-Xmn512m",
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData"]

RUN_LIMIT_S = 170  # a run must end within 180 s once built


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def workers(cores):
    """Spark's local cores: half the machine's. The JVM's own threads
    (GC, JIT, listener bus) and the neighbours of a shared host then find
    free cores, so a stage does not wait for a task whose core was taken."""
    return max(1, cores // 2)


def pin_cpus(n):
    """The last `n` CPUs this process may run on. The driver JVM is bound
    to them, so its threads hand work to each other on CPUs that are busy
    rather than waking idle ones, whose wake-up a loaded host delays."""
    return sorted(os.sched_getaffinity(0))[-n:]


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir: Path) -> str:
    """Compile graft and the driver; return the driver's classpath."""
    stamp_file, cp_file = build_dir / "stamp", build_dir / "classpath"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    tmp = build_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={build_dir / 'sbt-global'}",
            f"-Dsbt.ivy.home={build_dir / 'ivy2'}", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", "")] + opts).strip())
    log = build_dir / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    lines = log.read_text().splitlines()
    cp = next((ln for ln in reversed(lines) if ".jar" in ln and not ln.startswith("[")), None)
    if rc != 0 or cp is None:
        tail = "\n".join(lines[-20:])
        fail(f"build failed (sbt exit {rc}); see {log}\n{tail}")
    cp_file.write_text(cp)
    prefill_oracles(cp, build_dir)
    stamp_file.write_text(stamp)
    return cp


def prefill_oracles(cp, build_dir: Path):
    """Cache DuckDB's answers for the workloads whose inputs do not depend
    on the seed, so that no later run pays for them (the
    connected-components oracles take about a minute each)."""
    sql_file = build_dir / "oracle_sql.json"
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.OracleSql",
                    str(sql_file)], check=True, stdin=subprocess.DEVNULL)
    oracle = json.loads(sql_file.read_text())
    for name, spec in WORKLOADS.items():
        if spec["seeded_inputs"]:
            continue
        input_dir, inputs = make_inputs(name, 0, build_dir, workers(nproc()))
        tmp = build_dir / "tmp" / "duckdb"
        con = check.connect(str(input_dir), str(tmp))
        for key in spec["keys"]:
            if key in oracle:
                check.oracle_result(con, oracle[key], inputs_id(inputs),
                                    str(build_dir / "oracle-cache"))
        con.close()


# ---------------------------------------------------------------- inputs

def make_inputs(workload: str, seed: int, build_dir: Path, spark_cores: int):
    """Generate the workload's tables; return (dir, description)."""
    if WORKLOADS[workload]["seeded_inputs"]:
        files = max(8, 2 * spark_cores)
        d = build_dir / "inputs" / f"events-s{seed}-x{EVENTS_SCALE}-f{files}"
        write = lambda tmp: {"events": gen.write_events(tmp, seed, EVENTS_SCALE, files)}
    else:
        d = build_dir / "inputs" / f"documents-s{DOCS_SEED}"
        write = lambda tmp: {
            "documents": gen.write_table(tmp, "documents", gen.documents_table(DOCS_SEED)),
            "embeddings": gen.write_table(tmp, "embeddings", gen.embeddings_table(DOCS_SEED))}
    info = d / "inputs.json"
    if not info.exists():
        tmp = Path(f"{d}.tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        desc = write(str(tmp))
        (tmp / "inputs.json").write_text(json.dumps(desc))
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d, json.loads(info.read_text())


def inputs_id(inputs):
    return ",".join(f"{n}:{d['fingerprint']}" for n, d in sorted(inputs.items()))


# ---------------------------------------------------------------- driver

def run_driver(cp, workload, seed, seconds, trace, input_dir, work, spark_cores, deadline):
    """Start the driver JVM; return (result, setup_s)."""
    spec = WORKLOADS[workload]
    out = work / "result.json"
    # The JVM sizes its GC and JIT thread pools to the cores Spark uses.
    cmd = ["java", *JVM_OPTS, f"-XX:ActiveProcessorCount={spark_cores}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "graftbench.Driver", "--keys", ",".join(spec["keys"]),
           "--input", str(input_dir), "--work", str(work), "--seed", str(seed),
           "--workers", str(spark_cores), "--seconds", str(seconds), "--trace", str(trace),
           "--write", "1" if spec["write"] else "0", "--out", str(out)]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    (work / "tmp").mkdir(parents=True)
    setup_s = None
    with open(work / "driver.log", "w") as err:
        t0 = time.perf_counter()
        cpus = pin_cpus(spark_cores)
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True,
                                preexec_fn=lambda: os.sched_setaffinity(0, cpus))
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                if line.strip() == "GRAFTBENCH cold_done" and setup_s is None:
                    setup_s = time.perf_counter() - t0
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.exists() or setup_s is None:
        tail = "\n".join((work / "driver.log").read_text().splitlines()[-30:])
        fail(f"driver failed (exit {rc}); log tail:\n{tail}", 3)
    return json.loads(out.read_text()), setup_s


# ---------------------------------------------------------------- metrics

def pass_groups(result, index):
    prefix = f"{index}/"
    return {g: c for g, c in result["counts"].items() if g.startswith(prefix)}


def real_keys(p):
    return [k for k in p["keys"] if k["key"] != "sinks"]


def end_to_end(result, timed, setup_s):
    samples = [k["build_s"] + k["plan_s"] + k["exec_s"] for p in timed for k in real_keys(p)]
    p50, n = metrics.percentile(samples, 50)
    p90, _ = metrics.percentile(samples, 90)
    values = {
        "wall_s": statistics.median([p["wall_s"] for p in timed]),
        "query_p50_s": p50,
        "query_p90_s": p90,
        "setup_s": setup_s,
        "peak_rss_mb": result["peak_rss_mb"] * 1024 * 1024 / MB,
    }
    return values, n


def layer_values(result, p, cores, input_bytes):
    """Per-layer numbers of one traced pass."""
    idx = p["index"]
    groups = pass_groups(result, idx)
    phase = lambda g: g.rsplit("/", 1)[1]
    keys = real_keys(p)
    tot = lambda field, gs=groups.values(): sum(c[field] for c in gs)
    build_groups = [c for g, c in groups.items() if phase(g) == "build"]
    query_groups = [c for g, c in groups.items() if phase(g) in ("build", "plan", "exec")
                    and not g.startswith(f"{idx}/sinks/")]
    exec_groups = [c for g, c in groups.items() if phase(g) == "exec"]
    tasks = sorted(t for c in groups.values() for t in c["task_ms"])
    jobs_by_group = {}
    for kind, _, g, a, b, _ in result["spark_spans"]:
        if kind == "job":
            jobs_by_group.setdefault(g, []).append((a, b))
    build_self = sum(metrics.self_time((a, b), jobs_by_group.get(g, []))
                     for g, kind, a, b in result["phase_spans"]
                     if kind == "build" and g.startswith(f"{idx}/")) / 1e3
    shapes = [result["plan_shapes"].get(f"{idx}/{k['key']}", {}) for k in keys]
    shape = lambda f: sum(s.get(f, 0) for s in shapes)
    exec_s = sum(k["exec_s"] for k in keys)
    write = groups.get(f"{idx}/sinks/write")
    write_bytes = write["write_bytes"] if write else 0
    return {
        "operators.build_s": sum(k["build_s"] for k in keys),
        "operators.build_self_s": build_self,
        "operators.build_jobs": tot("jobs", build_groups),
        "operators.jobs_per_query": tot("jobs", query_groups) / len(keys),
        "operators.cached_peak_mb": result["cached_peak"].get(str(idx), 0) / MB,
        "plans.plan_s": sum(k["plan_s"] for k in keys),
        "plans.exchanges": shape("exchanges"),
        "plans.reused_exchanges": shape("reused_exchanges"),
        "plans.scan_nodes": shape("scan_nodes"),
        "exec.exec_s": exec_s,
        "exec.jobs": tot("jobs"),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.core_s": tot("run_ms") / 1e3,
        "exec.cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1e3,
        "exec.core_util": metrics.core_util(tot("run_ms", exec_groups) / 1e3, exec_s, cores),
        "exec.task_p50_ms": metrics.percentile(tasks, 50)[0] if tasks else 0.0,
        "exec.task_max_ms": float(tasks[-1]) if tasks else 0.0,
        "exec.sched_wait_s": tot("sched_wait_ms") / 1e3,
        "exec.shuffle_write_mb": tot("shuffle_write") / MB,
        "exec.shuffle_read_mb": tot("shuffle_read") / MB,
        "exec.spill_mb": tot("spill") / MB,
        "exec.task_retries": tot("retries"),
        "sources.scan_rows": tot("scan_rows"),
        "sources.scan_mb": tot("scan_bytes") / MB,
        "sources.scan_splits": tot("scan_tasks"),
        "sources.spread_fired": shape("spread"),
        "sources.write_s": sum(k["exec_s"] for k in p["keys"] if k["key"] == "sinks"),
        "sources.write_mb": write_bytes / MB,
        "sources.files_written": result["files_written"].get(str(idx), 0),
        "sources.write_amp": write_bytes / input_bytes if write else 0.0,
    }


PER_LAYER_UNITS = {
    "operators.build_s": "s", "operators.build_self_s": "s",
    "operators.build_jobs": "count", "operators.jobs_per_query": "count",
    "operators.cached_peak_mb": "MB", "plans.plan_s": "s",
    "plans.exchanges": "count", "plans.reused_exchanges": "count",
    "plans.scan_nodes": "count", "exec.exec_s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.core_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio",
    "exec.task_p50_ms": "ms", "exec.task_max_ms": "ms", "exec.sched_wait_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_retries": "count", "sources.scan_rows": "count", "sources.scan_mb": "MB",
    "sources.scan_splits": "count", "sources.spread_fired": "count",
    "sources.write_s": "s", "sources.write_mb": "MB", "sources.files_written": "count",
    "sources.write_amp": "ratio", "trace.overhead_s": "s",
}


def per_layer(result, timed, cores, input_bytes):
    traced = [p for p in timed if p["traced"]]
    plain = [p for p in timed if not p["traced"]]
    rows = [layer_values(result, p, cores, input_bytes) for p in traced]
    values = {name: statistics.median([r[name] for r in rows]) for name in rows[0]}
    values["trace.overhead_s"] = (statistics.median([p["wall_s"] for p in traced]) -
                                  statistics.median([p["wall_s"] for p in plain]))
    return values


def self_times(result, idx):
    """Seconds of self time per span kind in traced pass `idx`: a pass's
    children are its keys, a key's its phases, a phase's the Spark jobs of
    its job group, a job's its stages."""
    pre = f"{idx}/"
    phases = [s for s in result["phase_spans"] if s[0] == str(idx) or s[0].startswith(pre)]
    jobs = [(i, g, a, b) for kind, i, g, a, b, _ in result["spark_spans"]
            if kind == "job" and g.startswith(pre)]
    ids = {j[0] for j in jobs}
    stages = [(job, a, b) for kind, _, _, a, b, job in result["spark_spans"]
              if kind == "stage" and job in ids]

    def children(g, kind):
        if kind == "pass":
            return [(a, b) for _, k, a, b in phases if k == "key"]
        if kind == "key":
            return [(a, b) for g2, k, a, b in phases
                    if k not in ("pass", "key") and g2.startswith(g + "/")]
        return [(a, b) for _, g2, a, b in jobs if g2 == g]
    out = {}
    for g, kind, a, b in phases:
        out[kind] = out.get(kind, 0.0) + metrics.self_time((a, b), children(g, kind)) / 1e3
    for i, _, a, b in jobs:
        out["job"] = out.get("job", 0.0) + metrics.self_time(
            (a, b), [(s, e) for j, s, e in stages if j == i]) / 1e3
    out["stage"] = sum(b - a for _, a, b in stages) / 1e3
    return out


# ---------------------------------------------------------------- check

def output_check(result, input_dir, inputs, work, cache_dir, with_write):
    """key -> reason, for every key whose output is wrong."""
    con = check.connect(str(input_dir), str(work / "duckdb-tmp"))
    bad = {}
    for key, why in check.check_oracles(con, str(work / "check"), result["oracle"],
                                        inputs_id(inputs), cache_dir).items():
        bad.setdefault(key, why)
    for key in {k["key"] for k in result["passes"][0]["keys"]} - set(result["oracle"]) - {"sinks"}:
        prints = result["fingerprints"].get(key, [])
        if len(prints) < 2:
            bad[key] = "no fingerprint"
        elif len(set(prints)) != 1:
            bad[key] = f"fingerprint changed across passes: {prints}"
        elif prints[0].startswith("0:"):
            bad[key] = "no rows"
    if with_write and "sinks" not in bad:
        why = check.check_write(con, str(work / "check"))
        if why:
            bad["sinks"] = why
    con.close()
    return bad


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT}")
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    cp = build(build_dir)

    start = time.monotonic()
    cores = nproc()
    spark_cores = workers(cores)
    spec = WORKLOADS[args.workload]
    input_dir, inputs = make_inputs(args.workload, args.seed, build_dir, spark_cores)
    t_inputs = time.monotonic()
    work = build_dir / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result, setup_s = run_driver(cp, args.workload, args.seed, args.seconds, args.trace,
                                 input_dir, work, spark_cores, start + RUN_LIMIT_S - 10)
    t_driver = time.monotonic()
    # seeded inputs change every run, so only the fixed inputs' answers are kept
    cache_dir = None if spec["seeded_inputs"] else str(build_dir / "oracle-cache")
    bad = output_check(result, input_dir, inputs, work, cache_dir, spec["write"])
    t_check = time.monotonic()

    passes = result["passes"]
    timed = [p for p in passes if p["kind"] == "timed"]
    counted = [p for p in passes if p["kind"] in ("cold", "warm", "timed")]
    attempted, failed = metrics.fail_counts(counted, set(bad))

    for name, d in inputs.items():
        print(f"input {name}: {d['rows']} rows, {d['files']} files, "
              f"{d['bytes'] / MB:.2f} MB, fingerprint {d['fingerprint']}")
    print(f"run time: inputs {t_inputs - start:.1f} s, driver {t_driver - t_inputs:.1f} s, "
          f"output check {t_check - t_driver:.1f} s")
    warm = sum(1 for p in passes if p["kind"] == "warm")
    print(f"workload {args.workload}, seed {args.seed}, local[{spark_cores}] of {cores} cores, "
          f"keys {', '.join(spec['keys'])}; passes: 1 cold, {warm} warm-up, {len(timed)} timed ("
          + ", ".join(f"{p['kind']} {p['wall_s']:.2f} s" for p in passes) + ")")
    n_oracle = len(result["oracle"])
    print(f"output check: {n_oracle - sum(1 for k in result['oracle'] if k in bad)}/{n_oracle} "
          f"oracle keys match DuckDB, {len(result['fingerprints'])} fingerprinted keys"
          + (", write phase checked" if spec["write"] else ""))
    for key, why in sorted(bad.items()):
        print(f"  FAIL {key}: {why}")
    print(f"fail_frac: {failed}/{attempted} = {metrics.fail_frac(attempted, failed):.4f}")

    if args.trace:
        input_bytes = sum(d["bytes"] for d in inputs.values())
        values = per_layer(result, timed, spark_cores, input_bytes)
        units = PER_LAYER_UNITS
        for p in (p for p in timed if p["traced"]):
            print(f"self time in traced pass {p['index']}: " + ", ".join(
                f"{kind} {v:.3f} s" for kind, v in self_times(result, p["index"]).items()))
        trace = build_dir / "traces" / f"{args.workload}-{args.seed}.json"
        trace.parent.mkdir(exist_ok=True)
        shutil.copyfile(work / "result.json", trace)
        print(f"trace (spans and counts): {trace}")
    else:
        values, n = end_to_end(result, timed, setup_s)
        units = dict(END_TO_END)
        print(f"query percentiles over {n} samples (keys x timed passes)")
    for name, v in values.items():
        print(f"metric {name} = {v:.6g} {units[name]}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": units[name]} for name, v in values.items()},
    }))


if __name__ == "__main__":
    main()
