#!/usr/bin/env python3
"""Benchmark of the graft engine (see perfbench/NOTES.md).

Usage, from the repository root:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark JVM from source with sbt (once per
source state), generates the workload's inputs from the seed (cached by
seed and size), runs one fresh benchmark JVM on local[nproc], checks every
output, and prints as its last line one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
holding the end-to-end metrics with --trace 0 and the per-layer metrics
with --trace 1. Everything it writes goes under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from stats import median, tail  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
# Input sizes; a change here is a change of the benchmark.
WC_MB = {"wc_zipf": 32, "wc_distinct": 6}
CATALOG_DOCS, CATALOG_ITEMS = 400, 6000
STREAM_BATCHES, STREAM_ROWS = 2, 64
# wc_distinct is not in BENCHMARK.json: 22 more runs would not fit the
# benchmark's time. It stays runnable by hand.
WORKLOADS = sorted([*WC_MB, "catalog_mix", "stream_ingest"])
# The layers each workload drives. In a traced run, a metric of a layer
# the workload does not drive reads 0; spark.* and trace.* are measured
# on every workload.
DRIVES = {"wc_zipf": ("core.",), "wc_distinct": ("core.",),
          "catalog_mix": ("queries.", "functions."), "stream_ingest": ("streaming.",)}
EVERYWHERE = ("spark.", "trace.")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath and JVM flags of the benchmark JVM, building when the
    sources changed since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, launch = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "launch.txt")
    stamp = source_stamp()
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           out, 850, cwd=HERE, env=env)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (exit {rc}), log in {log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def run_child(cmd, out, timeout, **kw):
    """Runs cmd in its own process group, killing the group on timeout."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def cpu_times():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def heap():
    """The engine's SPARK_DRIVER_MEM rule: half of RAM in GiB, within 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def inputs(workload, seed):
    root = os.path.join(BUILD, "inputs")
    if workload == "catalog_mix":
        return gen.ensure(root, f"catalog-{seed}-{CATALOG_DOCS}-{CATALOG_ITEMS}",
                          gen.write_catalog, seed, CATALOG_DOCS, CATALOG_ITEMS)
    if workload == "stream_ingest":
        return gen.ensure(root, f"stream-{seed}-{STREAM_BATCHES}x{STREAM_ROWS}",
                          gen.write_stream, seed, STREAM_BATCHES, STREAM_ROWS)
    mb = WC_MB[workload]
    return gen.ensure(root, f"{workload}-{seed}-{mb}mb",
                      gen.write_wc, workload.split("_")[1], seed, mb)


def end_to_end(res, log):
    jobs = [u["s"] for u in res["units"] if not u["traced"]]
    if not jobs:
        fail("no unit completed correctly")
    job_tail, pct = tail(jobs)
    log(f"units {[round(j, 3) for j in jobs]}; tail p{pct:.1f} = {job_tail:.3f} s "
        f"of {len(jobs)} units; setup {res['setup_s']:.3f} s")
    return {
        "job_s": (median(jobs), "s"),
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def latencies(res, log):
    """Median and tail of the stream's batch and read latencies."""
    out = {}
    for kind in ("batch", "read"):
        xs = res["notes"][f"{kind}_s"]
        value, pct = tail(xs)
        log(f"{kind} tail p{pct:.1f} = {value:.3f} s of {len(xs)} samples")
        out[f"streaming.{kind}_p50_s"] = median(xs)
        out[f"streaming.{kind}_tail_s"] = value
    return out


def per_layer(res, spec, workload):
    driven = DRIVES[workload] + EVERYWHERE
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in res["layers"]:
            out[name] = (res["layers"][name], m["unit"])
        elif name.startswith(driven):
            fail(f"the traced run did not measure {name}")
        else:
            out[name] = (0.0, m["unit"])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    # and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath, jvm_flags = build()
    data = inputs(a.workload, a.seed)

    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result_file = os.path.join(work, "result.json")
        cores = len(os.sched_getaffinity(0))
        # A fixed heap and young generation: with G1 sizing them, peak RSS
        # followed its resizing decisions and spread 17-28% across runs.
        cmd = ["java", *jvm_flags, f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn1g",
               f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "graftbench.Main",
               "--workload", a.workload, "--inputs", data, "--work", work, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
               "--out", result_file]
        jvm_log = os.path.join(BUILD, f"jvm-{a.workload}.log")
        steal0, total0 = cpu_times()
        with open(jvm_log, "w") as out:
            rc = run_child(cmd, out, a.seconds + 140, cwd=work)
        steal1, total1 = cpu_times()
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(jvm_log).read()[-4000:])
            fail(f"benchmark JVM failed (exit {rc}), log in {jvm_log}")
        res = json.load(open(result_file))
        log = lambda s: print(f"perfbench {a.workload}: {s}")
        attempted, failed = res["attempted"], res["failed"]
        with open(os.path.join(BUILD, f"spans-{a.workload}.json"), "w") as f:
            json.dump(res["spans"], f)
        if a.workload == "catalog_mix":
            from oracle import check_catalog  # DuckDB and pandas load only here
            problems = check_catalog(res["notes"]["oracle_sql"], res["notes"]["check_dirs"], data)
            for q, p in sorted(problems.items()):
                log(f"{q} disagrees with its oracle: {p}")
            attempted += len(res["notes"]["oracle_sql"])
            failed += len(problems)
            with open(os.path.join(BUILD, "plans-catalog_mix.json"), "w") as f:
                json.dump(res["notes"]["plans"], f, indent=1)
            log(f"plans {json.dumps(res['notes']['plans'], sort_keys=True)}")
            log("query seconds " + "; ".join(f"{q} {[round(x, 3) for x in xs]}"
                                             for q, xs in res["notes"]["query_s"].items()))
        log(f"fail_ratio={failed / max(1, attempted):.4f} ({failed} of {attempted} operations)")
        # CPU time the hypervisor gave to other guests: runs with a large
        # share are slower from end to end
        log(f"steal {(steal1 - steal0) / max(1, total1 - total0):.3f} of the machine's CPU time")
        if a.trace:
            if a.workload == "stream_ingest":
                res["layers"].update(latencies(res, log))
            metrics = per_layer(res, spec, a.workload)
        else:
            metrics = end_to_end(res, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
