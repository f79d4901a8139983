#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 graftbench/run.py --workload text_dedup --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. It compiles the program (src/main/scala)
and the benchmark (graftbench/src) into .bench_build/ unless a build of
the same sources is there, writes the seeded inputs, runs the workload in
a closed loop on local[4] (a cold pass, then a fixed number of warm passes,
each op ending in the noop sink; --seconds is only recorded beside the
measured window), checks every op's output against its
DuckDB oracle with tools/check.py, and prints the run record and, as the
last line, the result JSON. --trace 1 reports the per-layer metrics and
keeps the spans in .bench_build/trace-<workload>-<seed>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402
from metrics import median, self_times, trace_overhead  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# The sf0.1 test tables (TESTDATA.md) and the Spark installation's jars.
SOURCE_DATA = os.environ.get("GRAFT_BENCH_SOURCE_DATA",
                             os.path.expanduser("~/testdata/sf0.1"))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
CORES = 4
HEAP = "3g"
# A run must end within 180 s; a hung JVM or check is killed, failing the run.
JVM_TIMEOUT_S = 140
CHECK_TIMEOUT_S = 25
# The tables each workload reads; only these are generated.
WORKLOADS = {
    "text_dedup": ("documents",),
    "index_incremental": ("documents", "embeddings"),
}
JVM_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
KERNELS = ("char_gram_hashes minhash_signature simhash multi_match wordpiece "
           "bpe_encode unicode_normalize quality_stats lang_id winnow").split()


class BenchError(Exception):
    pass


def build():
    """Compile program and benchmark sources into one jar, once per distinct
    source set, and dump a class-data archive of a primed session beside it.
    Every run starts its JVM from that archive."""
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("no program sources under src/main/scala")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars under {SPARK_JARS!r}; set SPARK_HOME")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    digest = hashlib.sha256()
    for path in main + bench:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "build-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    compile_cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{SPARK_JARS}/*",
                   "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes]
    proc = subprocess.run(compile_cmd + main + bench, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BenchError("build failed:\n" + proc.stdout[-4000:])
    with zipfile.ZipFile(os.path.join(out, "graft.jar"), "w") as jar:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                jar.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    prime = os.path.join(out, "prime")
    proc = subprocess.run(
        java_cmd(out, prime, [f"-XX:ArchiveClassesAtExit={out}/classes.jsa"]) +
        ["--prime", os.path.join(prime, "data")],
        cwd=prime, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(prime, ignore_errors=True)
    if proc.returncode != 0:
        raise BenchError("priming the class-data archive failed:\n" + proc.stdout[-4000:])
    open(os.path.join(out, ".complete"), "w").close()
    return out


def java_cmd(build_dir, work, flags):
    """The benchmark JVM, with its temp, Spark-local and Derby dirs under `work`."""
    for sub in ("tmp", "spark"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # The heap is neither sized nor touched up front, so set-up does not
    # pay for touching it. The young generation has a fixed size, so
    # collections come after a fixed amount of allocation rather than when
    # the collector's pause-time model, which load perturbs, calls them;
    # the heap occupancy after them then repeats between runs.
    return (["java", f"-Xmx{HEAP}", "-Xmn256m"] + JVM_OPENS + flags +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark",
             f"-Dderby.system.home={work}",
             "-cp", f"{build_dir}/graft.jar:{SPARK_JARS}/*", "graftbench.Main"])


def cpu_ticks():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run_jvm(build_dir, run_dir, data, out, args):
    cmd = java_cmd(build_dir, run_dir, [f"-XX:SharedArchiveFile={build_dir}/classes.jsa"]) + [
        args.workload, data, out, str(args.trace), str(args.seed), str(CORES)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = f"killed after {JVM_TIMEOUT_S} s"
    record = os.path.join(out, "record.json")
    if code != 0 or not os.path.exists(record):
        with open(log) as f:
            lines = [ln for ln in f if not ln.lstrip().startswith(("at ", "..."))]
        raise BenchError(f"benchmark JVM exited {code}:\n" + "".join(lines)[-4000:])
    with open(record) as f:
        return json.load(f)


def check_oracles(data, out, eval_failed):
    """tools/check.py over the op outputs; returns the mismatching names."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools/check.py"), data, out],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=CHECK_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    ok = [ln.split()[1] for ln in lines if ln.startswith("OK ")]
    bad = [ln for ln in lines if ln.startswith("FAIL")]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        expected = json.load(f)
    if proc.returncode != 0 or len(ok) + len(bad) != len(expected):
        raise BenchError("oracle check did not complete:\n" + proc.stdout[-4000:])
    return bad + [f"FAIL {n}: no output (evaluation threw)" for n in eval_failed], ok


def span_secs(passes, name):
    return [(s["end_ns"] - s["start_ns"]) / 1e9
            for p in passes for s in p["spans"] if s["parent"] == -1 and s["name"] == name]


def op_walls(passes):
    """Per op: [cold wall, median warm wall] in seconds."""
    walls = {}
    for p in passes:
        for s in p["spans"]:
            if s["parent"] == -1:
                walls.setdefault(s["op"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
    return {op: [round(w[0], 4), round(median(w[1:]), 4)] for op, w in walls.items()}


def end_to_end(rec, warm):
    return {
        "setup_s": (rec["setup_s"], "s"),
        "cold_pass_cpu_s": (rec["cold_process_cpu_s"], "s"),
        "pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "pass_cpu_s": (median([p["cpu_s"] for p in warm]), "s"),
        "heap_after_gc_peak_mb": (rec["heap_after_gc_peak_mb"], "MB"),
    }


def per_layer(rec, warm, traced, text_bytes):
    def med(of, unit, scale=1.0):
        return median([of(p) * scale for p in traced]), unit

    def counter(key):
        return lambda p: p["counters"].get(key, 0.0)

    selfs = {}
    for p in traced:
        selfs.update(self_times(p["spans"]))

    def spans_of(kind, op_prefix=""):
        return [s for p in traced for s in p["spans"]
                if s["name"] == kind and s["op"].startswith(op_prefix)]

    def self_s_per_pass(kind, op_prefix=""):
        return sum(selfs[s["id"]] for s in spans_of(kind, op_prefix)) / 1e9 / len(traced), "s"

    def jobs_per_call(kind):
        spans = spans_of(kind)
        return (sum(s["counters"]["jobs"] for s in spans) / len(spans) if spans else 0.0), "count"

    probes = spans_of("probe")
    in_index = sum(s["attrs"]["files_in_index"] for s in probes)
    m = {
        "plans.planning_ms": med(counter("planning_ms"), "ms"),
        "plans.codegen_compile_ms": (rec["cold_codegen_compile_ms"], "ms"),
        "plans.exchanges": med(counter("exchanges"), "count"),
        "driver.jobs": med(counter("jobs"), "count"),
        "driver.stages": med(counter("stages"), "count"),
        "driver.tasks": med(counter("tasks"), "count"),
        "driver.driver_only_s": med(lambda p: p["driver_only_s"], "s"),
        "driver.core_busy_frac": med(lambda p: p["core_busy_frac"], "ratio"),
        "driver.jobs_per_append": jobs_per_call("append"),
        "driver.jobs_per_probe": jobs_per_call("probe"),
        "driver.jobs_per_curate_batch": jobs_per_call("curate_batch"),
        "operators.shuffle_write_bytes": med(counter("shuffle_write_bytes"), "bytes"),
        "operators.shuffle_read_bytes": med(counter("shuffle_read_bytes"), "bytes"),
        "operators.spill_bytes": med(counter("spill_bytes"), "bytes"),
        "operators.gc_s": med(counter("gc_ms"), "s", 1e-3),
        "operators.peak_exec_mem_mb": med(lambda p: p["peak_exec_mem_mb"], "MB"),
        "operators.curate_batch_p50_s": (median(span_secs(warm, "curate_batch")), "s"),
        "sources.scan_files_read": med(counter("scan_files_read"), "count"),
        "sources.scan_bytes_read": med(counter("scan_bytes_read"), "bytes"),
        "sources.scan_rows": med(counter("scan_rows"), "count"),
        "sources.scan_metadata_ms": med(counter("scan_metadata_ms"), "ms"),
        "sources.build_s.grep": (sum(s["end_ns"] - s["start_ns"] for s in rec["passes"][0]["spans"]
                                     if s["op"] == "build.grep") / 1e9, "s"),  # cold pass
        "sources.append_s.grep": self_s_per_pass("append", "append.grep"),
        "sources.probe_s.grep": self_s_per_pass("probe", "probe.grep"),
        "sources.probe_s.regex": self_s_per_pass("probe", "probe.regex"),
        "sources.append_p50_s": (median(span_secs(warm, "append")), "s"),
        "sources.probe_p50_s": (median(span_secs(warm, "probe")), "s"),
        "sources.probe_files_read_frac": (
            sum(s["counters"]["scan_files_read"] for s in probes) / in_index
            if in_index else 0.0, "ratio"),
        "sources.bytes_written": med(lambda p: p["bytes_written"], "bytes"),
        "sources.files_written": med(lambda p: p["files_written"], "count"),
        "sources.stored_bytes_per_input_byte": (
            rec["passes"][-1]["state_bytes"] / text_bytes if text_bytes else 0.0, "ratio"),
        "blocks.free_ms": med(lambda p: p["blocks_free_ms"], "ms"),
        "blocks.peak_storage_mb": med(lambda p: p["blocks_peak_storage_mb"], "MB"),
        "trace.overhead_frac": (trace_overhead(rec["passes"]), "ratio"),
    }
    for kernel in KERNELS:
        m[f"functions.{kernel}.ns_per_row"] = (rec["kernel_ns_per_row"][kernel], "ns")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = build()
    run_dir = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    os.makedirs(data)
    os.makedirs(out)
    phases = [time.monotonic()]  # inputs, benchmark JVM, oracle check
    try:
        tables = inputs.generate(SOURCE_DATA, data, args.seed, WORKLOADS[args.workload])
        phases.append(time.monotonic())
        steal0, ticks0 = cpu_ticks()
        load0 = loadavg()
        rec = run_jvm(build_dir, run_dir, data, out, args)
        phases.append(time.monotonic())
        steal1, ticks1 = cpu_ticks()
        load1 = loadavg()
        mismatches, ok = check_oracles(data, out, rec["oracle_eval_failed"])
        phases.append(time.monotonic())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = rec["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    if args.trace:
        metrics = per_layer(rec, warm, traced, tables.get("text_bytes"))
        with open(os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(rec, f)
    else:
        metrics = end_to_end(rec, warm)
    failed = len(rec["failures"])
    run_record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "cores_used": rec["cores"],
        "heap_max_mb": rec["heap_max_mb"], "peak_rss_mb": rec["peak_rss_mb"],
        "jvm": rec["jvm"], "spark": rec["spark"],
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0),
        "loadavg_before": load0, "loadavg_after": load1,
        "tables": tables, "window_s": rec["window_s"],
        "seconds_requested": args.seconds,
        "phase_s": dict(zip(("inputs", "jvm", "check"),
                            (b - a for a, b in zip(phases, phases[1:])))),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_traced": [p["traced"] for p in passes],
        "op_wall_s": op_walls(passes),
        "fail_frac": failed / rec["attempted"], "failures": rec["failures"],
        "oracle_mismatches": len(mismatches), "mismatches": mismatches,
        "oracle_ok": ok,
        "timing": "every op ends in the noop sink (full materialization); "
                  "not comparable with graft.Bench's count() timings",
    }
    print(json.dumps({"run_record": run_record}))
    print(json.dumps({
        "correct": not mismatches, "attempted": rec["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, subprocess.SubprocessError) as e:
        print(f"graftbench: {e}", file=sys.stderr)
        sys.exit(2)
