#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine (src/main/scala) and
the benchmark program (perfbench/jvm) with the Scala compiler in Spark's jars,
generates the workload's inputs from the seed, runs one JVM sized to the
host, checks every output against its oracle outside the timed region, and
prints one JSON object as the last line of standard output. `--scale tiny`
runs the same workload on small inputs (the benchmark's own tests use it).
"""
import argparse
import hashlib
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or ".")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
DEADLINE_S = 170  # a run must end within 180 s

TICK_QUERIES = ["t01_tick_parse", "t02_volume_expansion", "t03_hotloop_derivative",
                "t04_hotloop_hexad16", "t05_hotloop_cpm", "t06_hotloop_amc",
                "t07_bars_boxcar", "t08_bars_fir", "t09_tick_capture", "t10_bar_capture"]

SCALES = {  # replay lines, warehouse scale factor, stream rate/lead-in/burst/burst period
    "default": {"lines": 100_000, "sf": 0.005, "rate": 10_000, "lead": 24.0,
                "burst": 10_000, "every": 4.0},
    # the lead-in outlasts the stream query's cold first batch (about 5 s)
    "tiny": {"lines": 3_000, "sf": 0.001, "rate": 2_000, "lead": 6.0,
             "burst": 2_000, "every": 1.0},
}

END_TO_END = {"setup_s": "s", "wall_s": "s", "ticks_per_s": "1/s",
              "latency_p50_ms": "ms", "latency_p99_ms": "ms"}

LAYERS = ["parse", "expand", "hotloop", "scan", "bars", "fir", "enrich", "capture"]


def per_layer():
    """Every per-layer metric name -> (unit, better)."""
    m = {}
    for l in LAYERS:
        m.update({f"{l}.fixed_s": ("s", "lower"), f"{l}.ns_per_tick": ("ns", "lower"),
                  f"{l}.jobs": ("count", "lower"), f"{l}.cpu_s": ("s", "lower"),
                  f"{l}.gc_s": ("s", "lower"), f"{l}.shuffle_bytes": ("bytes", "lower")})
    m.update({"parse.kept_ratio": ("ratio", "higher"),
              "expand.ticks_per_line": ("ratio", "higher"),
              "hotloop.spill_bytes": ("bytes", "lower"),
              "capture.bytes_written": ("bytes", "lower"),
              "replay.span_coverage": ("ratio", "higher")})
    for e in ["derivative", "hexad16", "cpm", "amc"]:
        m[f"hotloopstep.ns_per_tick.{e}"] = ("ns", "lower")
    m.update({"stream.batch_ms.p50": ("ms", "lower"), "stream.batch_ms.p99": ("ms", "lower")})
    for p in ["get_batch", "query_planning", "add_batch", "wal_commit", "commit_offsets"]:
        m[f"stream.{p}_ms"] = ("ms", "lower")
    m.update({"stream.jobs_per_batch": ("count", "lower"),
              "stream.rows_per_batch": ("count", "higher"),
              "stream.state_bytes": ("bytes", "lower"),
              "stream.drop_ratio.monitoring": ("ratio", "lower"),
              "stream.drop_ratio.analytics": ("ratio", "lower")})
    for q in TICK_QUERIES:
        m[f"query.{q}.s"] = ("s", "lower")
    m.update({"tick_queries.plan_s": ("s", "lower"), "tick_queries.jobs": ("count", "lower"),
              "engine.cpu_per_wall": ("ratio", "higher"),
              "loadgen.late_ms.p99": ("ms", "lower"),
              "tracing.overhead_ratio": ("ratio", "lower"),
              "heap_peak_mb": ("MB", "lower")})
    return m


def sources():
    out = []
    for top in ["src/main/scala", "perfbench/jvm"]:
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile the engine and the benchmark program once per source tree."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        sys.exit("perfbench: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
                    "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-classpath", classes,
                    "-d", classes, "@" + argfile], check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def host():
    """Cores from nproc and heap from MemTotal, the way Tier-1 sizes Spark."""
    cores = len(os.sched_getaffinity(0))
    gib = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gib = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, f"{gib}g"


def make_inputs(work, workload, seed, seconds, trace, scale):
    """Generate the inputs a run needs; return the replay file's counts."""
    s = SCALES[scale]
    facts = {}
    if trace or workload == "replay":
        full = os.path.join(work, "ticks.txt")
        facts.update(gen.tick_file(full, seed, s["lines"]))
    if trace:  # the layer ladder's small size: the file's first tenth
        with open(full) as f, open(os.path.join(work, "ticks_tenth.txt"), "w") as g:
            g.writelines(itertools.islice(f, s["lines"] // 10))
        gen.warehouse(os.path.join(work, "wh"), seed, s["sf"])
    if trace or workload == "stream":
        gen.stream_ticks(os.path.join(work, "stream.txt"), seed, s["rate"], s["lead"], seconds,
                         s["burst"], s["every"])
    return facts


def run_jvm(classes, args, timeout):
    cores, heap = host()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] + [
        f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Djava.io.tmpdir={args['tmp']}", "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
        "perfbench.PerfBench", "--cores", str(cores)]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    p = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def log(t0, what):
    print(f"[perfbench] {what} at {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["replay", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="default")
    o = ap.parse_args()
    t_start = time.time()

    classes = build()
    tag = f"{o.workload}-{o.seed}-{o.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        facts = make_inputs(work, o.workload, o.seed, o.seconds, o.trace, o.scale)
        log(t_start, "inputs generated")
        args = {"workload": o.workload, "data": work, "out": os.path.join(work, "out"),
                "tmp": os.path.join(work, "tmp"), "seconds": o.seconds, "trace": o.trace,
                "ticks": facts.get("ticks", 0),
                "queries": ",".join(TICK_QUERIES)}
        code = run_jvm(classes, args, DEADLINE_S - (time.time() - t_start))
        if code != 0:
            sys.exit(f"perfbench: JVM exited with {code}")
        log(t_start, "JVM done")
        with open(os.path.join(args["out"], "result.json")) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        files = res["files"]
        if "replay" in files:
            failed += checks.replay(files["replay"], os.path.join(work, "ticks.txt"),
                                    os.path.join(args["out"], "oracle_sql.json"), facts)
        if "queries" in files:
            failed += checks.queries(files["queries"], os.path.join(work, "wh"),
                                     os.path.join(args["out"], "oracle_sql.json"), TICK_QUERIES)
        if "stream" in files:
            failed += checks.stream(files["stream"])
        log(t_start, "checks done")
        spans = os.path.join(args["out"], "spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(BUILD, "spans", f"{tag}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copy(spans, keep)
            print(f"[perfbench] spans: {keep}", file=sys.stderr)
        if o.trace:
            wanted = {k: u for k, (u, _) in per_layer().items()}
        else:
            wanted = END_TO_END
        got = res["metrics"]
        missing = [k for k in wanted if not isinstance(got.get(k), (int, float))
                   or got[k] != got[k]]
        if missing:
            sys.exit(f"perfbench: metrics not measured: {missing}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": got[k], "unit": u} for k, u in wanted.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
