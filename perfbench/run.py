"""graft benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload <serve_hybrid|dedup_ingest|ann_index> \\
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program from source (see build.py), generates the workload's
inputs from the seed, runs it in one JVM (``graft.perfbench.Main``), prints
every metric by name with its unit and the core count, then, as the last
line, one JSON object {correct, attempted, failed, metrics}: the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1`` (0 for a layer the workload does
not reach). Exits non-zero when an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
DEADLINE_S = 170  # a run after the build stays under 180 s

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.executor.heartbeatInterval=60s", "-Dspark.network.timeout=1200s",
]


# The sizes of the one run that loads every class the workloads use, for the
# class archive: each workload once, at a few seconds' worth of work.
ARCHIVE_SIZES = {
    "serve_hybrid": {"setup_repeats": 1, "docs": 200, "query_rounds": 1, "warm_s": 0.2,
                     "nominal_rps": 40, "decompose_requests": 10, "saturate_s": 0.2},
    "dedup_ingest": {"setup_repeats": 1, "docs": 200, "num_hashes": 48, "rows_per_band": 4, "threshold": 0.8,
                     "drop_size": 20, "bootstrap_drops": 2, "max_drops": 1, "min_drops": 1, "stage_repeats": 1},
    "ann_index": {"setup_repeats": 1, "dim": 64, "base": 400, "delta": 40, "lists": 16, "probes": 32,
                  "clusters": 10, "batch": 32, "k": 10, "min_calls": 1},
}


def java_cmd(jar, main_args, work, cds=None):
    """The JVM command line; `cds` is the class-archive flag, by default the
    archive's if one has been written."""
    if cds is None and build.ARCHIVE.exists():
        cds = f"-XX:SharedArchiveFile={build.ARCHIVE}"
    cp = f"{jar}{os.pathsep}{build.spark_jars()}/*"
    opts = ([cds] if cds else []) + JVM_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
                       f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
                       f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop-tmp'}",
                       f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    return ["java"] + opts + ["-cp", cp, "graft.perfbench.Main"] + main_args


def run_jvm(cmd, log_path, timeout_s, work):
    """Run the JVM in its own process group; kill the group on timeout."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True, env=env)
        try:
            return p.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def workload_args(workload, seed, seconds, trace, work, config, out, trace_out):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(work / "data"), "--config", str(config), "--out", str(out), "--trace_out", str(trace_out)]


def ensure_archive(jar, workloads):
    """Once per build: run every workload briefly in one JVM that writes the
    classes it loaded (the JDK's, Spark's, graft's) to a class archive, which
    every later run maps instead of loading and verifying those classes
    again. It shortens each run's JVM and Spark start; what a run measures
    starts after that. Without an archive (the write failed), runs load
    classes as usual."""
    if build.ARCHIVE.exists():
        return
    work = build.BUILD / "archive"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    config = work / "sizes.json"
    config.write_text(json.dumps(ARCHIVE_SIZES))
    tmp = build.BUILD / "perfbench.jsa.tmp"
    tmp.unlink(missing_ok=True)
    print("[perfbench] writing the class archive", file=sys.stderr, flush=True)
    cmd = java_cmd(jar, workload_args(",".join(workloads), 1, 0.5, 0, work, config, work / "result.json",
                                      work / "trace.jsonl"), work, cds=f"-XX:ArchiveClassesAtExit={tmp}")
    code = run_jvm(cmd, build.BUILD / "logs" / "archive.log", 300, work)
    shutil.rmtree(work, ignore_errors=True)
    if code is not None and tmp.exists():
        tmp.replace(build.ARCHIVE)
    else:
        tmp.unlink(missing_ok=True)
        print(f"[perfbench] no class archive (exit {code}); runs load classes as usual", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload!r}; choose one of {sorted(names)}")
    jar = build.ensure_built()  # a first run in a fresh checkout may spend minutes here
    (build.BUILD / "logs").mkdir(parents=True, exist_ok=True)

    if a.selftest:
        work = build.BUILD / "selftest"
        work.mkdir(parents=True, exist_ok=True)
        sys.exit(subprocess.call(java_cmd(jar, ["--selftest", str(work)], work)))

    ensure_archive(jar, names)
    t_start = time.monotonic()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = build.BUILD / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = java_cmd(jar, workload_args(a.workload, a.seed, a.seconds, a.trace, work, BENCH / "workloads.json", out,
                                      build.BUILD / "traces" / f"{tag}.jsonl"), work)
    log = build.BUILD / "logs" / f"{tag}.log"
    code = run_jvm(cmd, log, DEADLINE_S - (time.monotonic() - t_start), work)
    result = json.loads(out.read_text()) if out.exists() else None
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"run failed: {'timeout' if code is None else f'exit {code}'}, no result (log: {log})")

    nproc = result["nproc"]
    for n in result["notes"]:
        print(f"note: {n}")
    for c in result["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}" + (f" ({c['detail']})" if c["detail"] else ""))
    for n, m in result["metrics"].items():
        print(f"{n} = {m['value']:.6g} {m['unit']}  (nproc={nproc})")
    if "error" in result:
        print(f"error: {result['error']}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None and not a.trace:
            raise SystemExit(f"workload {a.workload} did not report {m['name']}")
        # a per-layer metric the workload does not produce: that layer is bypassed
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
