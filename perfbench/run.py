#!/usr/bin/env python3
"""Benchmark runner: runs one workload of the program and prints one
JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the program
and the harness (perfbench/build.sbt, via sbt) into git-ignored
directories; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one
Spark driver JVM (local[n], n = min(usable cores, 4)) running one
closed-loop client for `--seconds` of operations (and at least a
workload's `min_ops` of them), checks the outputs
outside the timed region, and prints, as its last line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. A full report
(environment, input digest, check messages, spans) is written to
.bench_build/reports/. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD_DIR = ".bench_build"
RUN_LIMIT_S = 170        # a run (after the build) must end within this
BUILD_LIMIT_S = 850
MAX_CPUS = 4

# Workload sizes. The closed loop runs until `--seconds` have passed
# and `min_ops` operations have run; the end-to-end metrics are taken
# over the first `min_ops`. Inputs are generated for at most `max_ops`
# timed operations (plus the warm-up).
PARAMS = {
    "catalog_daily": {"pages_per_day": 3000, "works_per_page": 2, "recrawl_share": 0.3,
                      "warmup_days": 2, "min_ops": 3, "max_ops": 6},
    "admission_loop": {"corpus_docs": 1500, "fresh": 40, "exact": 5, "near": 5,
                       "buckets": 8, "files_per_bucket_cap": 8, "min_ops": 2, "max_ops": 6},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            for f in files if "target" not in os.path.relpath(d, root).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built(root):
    """Builds when the sources changed since the last build; returns
    the launch description (classpath, JVM options)."""
    launch = os.path.join(root, BUILD_DIR, "launch.json")
    stamp_file = os.path.join(root, BUILD_DIR, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch) as f2:
                    return json.load(f2)
    log = os.path.join(root, BUILD_DIR, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                           cwd=os.path.join(root, "perfbench"), stdout=out,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as f:
        return json.load(f)


# --------------------------------------------------------------- inputs

def generate(workload, seed, input_dir):
    """Writes the workload's inputs; returns (per-op items, per-op
    input bytes, expectations, input summary, harness parameters)."""
    p = PARAMS[workload]
    h = gen.Hasher()
    if workload == "catalog_daily":
        days = p["warmup_days"] + p["max_ops"]
        gen.tables(seed, os.path.join(input_dir, "tables"), h)
        summary, expected = gen.crawl(seed, os.path.join(input_dir, "crawl"), days,
                                      p["pages_per_day"], p["works_per_page"],
                                      p["recrawl_share"], h)
        items, in_bytes = [], []
        for d in range(days):
            seg = os.path.join(input_dir, "crawl", f"day{d:03d}")
            with open(seg + ".wat") as f:
                items.append(sum(1 for _ in f))
            in_bytes.append(os.path.getsize(seg + ".wat") +
                            os.path.getsize(os.path.join(seg, "warc", "part.warc.gz")))
        return items, in_bytes, expected, summary, {
            "days": days, "warmup_days": p["warmup_days"], "min_ops": p["min_ops"]}
    docs_dir = os.path.join(input_dir, "docs")
    n_batches = 1 + p["max_ops"]
    raw, stats, kept = gen.raw_corpus(seed, p["corpus_docs"])
    batches, admitted = gen.batches(seed, kept, n_batches, p["fresh"], p["exact"], p["near"])
    gen.write_jsonl(os.path.join(docs_dir, "bench.jsonl"), gen.bench_docs(seed), h)
    gen.write_jsonl(os.path.join(docs_dir, "raw.jsonl"), raw, h)
    in_bytes = []
    for b, batch in enumerate(batches):
        path = os.path.join(docs_dir, f"batch{b:03d}.jsonl")
        gen.write_jsonl(path, batch, h)
        in_bytes.append(os.path.getsize(path))
    probes = "".join(" ".join(q) + "\n" for q in gen.probes(seed, n_batches)).encode()
    gen.write(os.path.join(docs_dir, "probes.txt"), probes, h, n_batches)
    expected = {"stats": stats, "kept": len(kept), "admitted": admitted}
    return [len(b) for b in batches], in_bytes, expected, h.summary(), {
        "batches": n_batches, "buckets": p["buckets"],
        "files_per_bucket_cap": p["files_per_bucket_cap"], "min_ops": p["min_ops"]}


def check(workload, raw, expected, work):
    if workload == "catalog_daily":
        bad, msgs = checks.catalog_daily(raw, expected)
        qbad, qmsgs = checks.queries(raw, os.path.join(work, "out", "queries"),
                                     os.path.join(work, "input", "tables"))
        return bad | qbad, msgs + qmsgs
    return checks.admission_loop(raw, expected)


# ------------------------------------------------------------------ run

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the finally blocks below stop the
    # child processes and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload not in PARAMS:
        fail(f"unknown workload '{a.workload}'; choose from {sorted(PARAMS)}")
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: no build.sbt and src/main/scala here")
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    lock = open(os.path.join(root, BUILD_DIR, "lock"), "w")
    try:  # runs in one checkout share the build and the work directory
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another run is using this checkout")
    launch = ensure_built(root)

    # every run starts from an empty work directory and removes it when
    # done: warehouse tables, staged-batch manifests, checkpoints and
    # Spark local dirs all live under it
    work = os.path.join(root, BUILD_DIR, "work")
    shutil.rmtree(work, ignore_errors=True)
    input_dir, tmp = os.path.join(work, "input"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        t0 = time.time()
        items, in_bytes, expected, summary, params = generate(
            a.workload, a.seed, input_dir)
        gen_s = time.time() - t0
        raw_file = os.path.join(work, "raw.json")
        cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
        cmd = (["java"] + launch["java_options"] +
               [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
                "-cp", launch["classpath"], "perfbench.Main",
                "--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--input", input_dir,
                "--work", os.path.join(work, "out"), "--out", raw_file])
        for k, v in params.items():
            cmd += [f"--p.{k}", str(v)]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        log = os.path.join(work, "driver.log")
        t_launch = time.time()
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S - gen_s)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:  # also on SIGTERM: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"driver JVM ended with {rc}")
        with open(raw_file) as f:
            raw = json.load(f)
        bad, msgs = check(a.workload, raw, expected, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = gen_s + raw["setup_end_epoch_s"] - t_launch
    for o in raw["ops"]:
        o["batch_docs"] = items[o["index"]]
    e2e, info = metrics.end_to_end(raw, items, in_bytes, setup_s, params["min_ops"])
    layer = metrics.per_layer(a.workload, raw) if a.trace else {}
    chosen = layer if a.trace else e2e
    result = {"correct": not bad,
              "attempted": len(raw["ops"]) + len(raw["reads_s"]),
              "failed": len(bad),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "env": raw["env"], "input": summary, "info": info,
              "check_messages": msgs, "end_to_end": e2e, "per_layer": layer,
              "ops": raw["ops"], "reads_s": raw["reads_s"], "spans": raw["spans"]}
    reports = os.path.join(root, BUILD_DIR, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for m in msgs:
        print(f"check failed: {m}", file=sys.stderr)
    print(f"# {a.workload} seed={a.seed} ops={info['ops']} tail=p{info['tail_pct']:g} "
          f"cpus={raw['env']['cpus_effective']}/{raw['env']['nproc']} "
          f"input={summary['rows']} rows/{summary['bytes']} B/{summary['sha256']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
