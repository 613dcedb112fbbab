#!/usr/bin/env python3
"""Benchmark of the Spark-native MapReduce engine, end to end and layer
by layer.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Run from the repository root. Workloads (closed loop, one client, one
operation in flight, single-process local[nproc] with nproc shuffle
partitions):

  mr-apps         WordCount then InvertedIndex jobs through the
                  reference path (text source, mr facade, O8 text sink)
                  over a seeded Gutenberg-equivalent corpus x100
  catalog-canary  the 11 queries of the frozen canary set (one per plan
                  family across rel/text/dedup/sim/graph), noop sink

The seed makes the corpus and permutes the query order of every pass.
Catalog queries read the repository's sf0.001 test tables, copied as
they are into perfbench/data/sf0.001 (one parquet file per table), so
their stamped digests apply to every seed.

The first run in a checkout builds the program and the harness with
sbt (perfbench/build.sbt pulls in the repository's own build); later
runs reuse the build while the sources are unchanged. Everything is
written under perfbench/.work.

The last line of stdout is the result: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end
ones, with --trace 1 the per-layer ones. The line before it stamps the
host facts, the seed, the corpus sha256 and each metric's sample count
and tail percentile. Progress and logs go to stderr and .work/logs.

`--stamp` re-records the catalog digests in perfbench/expected.tsv.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import corpus

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("mr-apps", "catalog-canary")
CORPUS_SCALE = 100
CATALOG_SF = "0.001"
DATA = os.path.join(HERE, "data", f"sf{CATALOG_SF}")
EXPECTED = os.path.join(HERE, "expected.tsv")
HEAP = "2g"
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 170
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def tree_sha(paths):
    """sha256 over the relative names and contents of the given files and
    of every file below the given directories."""
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Child:
    """A child process in its own process group, killed with its group
    on timeout or interruption and always waited for."""

    def __init__(self, cmd, log_path, env=None, cwd=ROOT):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=self.log,
                                     stderr=subprocess.STDOUT, start_new_session=True)

    def wait(self, timeout):
        try:
            return self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if self.proc.poll() is None:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
            self.log.close()


def build():
    """Compiles program and harness; returns the runtime classpath."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    stamp = tree_sha(sources)
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, f"classpath-{stamp[:16]}")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    log_path = os.path.join(out, "sbt.log")
    rc = Child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                "export Runtime/fullClasspath"], log_path, env=env, cwd=HERE).wait(BUILD_TIMEOUT)
    lines = open(log_path, errors="replace").read().splitlines()
    if rc != 0 or not lines:
        die(f"sbt build failed (exit {rc}); see {log_path}")
    cp = lines[-1].strip()
    for f in os.listdir(out):
        if f.startswith("classpath-"):
            os.remove(os.path.join(out, f))
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def java(cp, main, args, log_name, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=tmp)
    # only a maximum heap: the heap grows with what the program keeps,
    # so the peak RSS follows the program's memory, not a pre-sized heap
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, main, *args]
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", log_name)
    rc = Child(cmd, log_path, env=env).wait(timeout)
    if rc != 0:
        tail = open(log_path, errors="replace").read().splitlines()[-15:]
        die(f"{main} exited with {rc}; last lines of {log_path}:\n" + "\n".join(tail))


def corpus_for(seed):
    """The seed's corpus directory, with corpus.properties holding the
    facts the harness checks against. The expected outputs do not depend
    on the seed, so they are computed once per checkout."""
    cached = os.path.join(WORK, f"expected-x{CORPUS_SCALE}.properties")
    want = corpus.read_facts(cached)
    if want is None:
        want = corpus.expected(ROOT, CORPUS_SCALE)
        corpus.write_facts(cached, want)
    path = os.path.join(WORK, f"corpus-{seed}")
    facts = corpus.read_facts(os.path.join(path, "corpus.properties"))
    if facts is None:
        # one corpus on disk at a time: each is ~14 MB
        for d in os.listdir(WORK):
            if d.startswith("corpus-"):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        facts = {**want, **corpus.generate(ROOT, path, seed, CORPUS_SCALE)}
        # written last: its presence marks a complete corpus
        corpus.write_facts(os.path.join(path, "corpus.properties"), facts)
    return path, {k: str(v) for k, v in facts.items()}


def steal_jiffies():
    """CPU time the host took from this machine's vCPUs so far (the
    steal column of /proc/stat); a run that saw much of it ran slow."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def host_facts(nproc):
    mem = next((l.split()[1] for l in open("/proc/meminfo") if l.startswith("MemTotal:")), "?")
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": nproc, "mem_total_kb": int(mem) if mem.isdigit() else mem,
            "git_commit": commit, "source_sha256": tree_sha(["build.sbt", "src/main"])}


def main():
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft", "src/test/resources",
                 f"perfbench/data/sf{CATALOG_SF}/lineitem.parquet"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a checkout of the engine: {need} is missing under {ROOT}")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--stamp", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    steal0 = steal_jiffies()
    os.makedirs(WORK, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))

    cp = build()
    corpus_dir, facts = corpus_for(a.seed)

    out = os.path.join(WORK, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--nproc", str(nproc), "--corpus", corpus_dir,
            "--data", DATA, "--work", os.path.join(WORK, "run"), "--expected", EXPECTED,
            "--out", out] + (["--stamp"] if a.stamp else [])
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    java(cp, "perfbench.Harness", args, f"{a.workload}-{a.seed}-{a.trace}.log", RUN_TIMEOUT)
    if a.stamp:
        log(f"stamped {EXPECTED}")
        return
    res = json.load(open(out))

    metrics = {}
    for m in bench["per_layer" if a.trace else "end_to_end"]:
        name, unit = m["name"], m["unit"]
        if name in res["metrics"]:
            metrics[name] = {"value": res["metrics"][name], "unit": unit}
        elif a.trace:
            # a layer this workload does not exercise did no work
            metrics[name] = {"value": 0, "unit": unit}
        else:
            die(f"no samples for {name}; see the run's log")
    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "corpus_sha256": facts[f"corpus.x{CORPUS_SCALE}.sha256"],
             "catalog_sf": CATALOG_SF, **host_facts(nproc), **res["jvm"],
             "wall_s": round(time.time() - t_start, 1),
             "steal_jiffies": None if steal0 is None else steal_jiffies() - steal0,
             "samples": res["samples"]}
    print(json.dumps(stamp))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
