#!/usr/bin/env python3
"""Benchmark of the graft catalog, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source into `.bench_build/` (plain `scalac`, no build tool)
and generates every workload's corpus there; later runs reuse both while
the sources are unchanged. Each run then:

- starts the harness JVM and times set-up: JVM launch to a ready session
  with its warm-up done. The warm-up is pass 0, one untimed run of the
  workload's fixed query list (`workloads.json`) over the workload's
  corpus, so that the JIT is warm on the data sizes the timed passes read;
- runs PASSES timed passes of the same list over the same corpus, in an
  order permuted by `--seed`, by one closed-loop client;
- checks every query's row count and order-independent digest, in every
  pass, against `refs/<corpus>.txt`; a query that throws or mismatches
  counts as failed by name and is left out of the timings;
- prints each metric with its unit and sample count, a host stamp, and
  as its last line one JSON object with `correct`, `attempted`, `failed`
  and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics
  with `--trace 1`).

A traced run also writes per-query spans (query, construct, Catalyst
phases, execute, job, stage) as JSON lines to
`.bench_build/trace/<workload>-seed<N>.jsonl`. Every run appends its
full record, host stamp included, to `.bench_build/runs.jsonl`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# The scaled corpus: ScaleGen's 10x replica, checked by row counts.
SF1_ROWS = {"lineitem": 6_000_000, "orders": 1_500_000, "events": 1_000_000,
            "documents": 50_000, "embeddings": 20_000}
JVM_TIMEOUT_S = 150
# One value each for every workload: the executor cores (local[CPUS]),
# the seed of the sf0.1 corpus the committed references were taken on,
# and the timed passes per `run_seconds`.
CPUS = 4
CORPUS_SEED = 42
PASSES = 2


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        sbt = open(os.path.join(root, "build.sbt")).read()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise BenchError("Spark jars not found: set SPARK_HOME")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise BenchError("program sources (src/main/scala) not found in " + root)
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return prog + harness


def build(root, jars):
    """Compiles program + harness with scalac into .bench_build/classes,
    unless the class snapshot already matches the sources."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(out, "SOURCES.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    log(f"building {len(srcs)} sources ...")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", j)]
    if len(compiler) != 3:
        raise BenchError("scala compiler jars not found in " + jars)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, "SOURCES.sha256"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java_cmd(classes, jars, heap, root, main, args):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(root, BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classes + ":" + os.path.join(jars, "*"), main] + args)


def run_jvm(cmd, logname, root, timeout=JVM_TIMEOUT_S, env=None):
    logdir = os.path.join(root, BUILD, "logs")
    os.makedirs(logdir, exist_ok=True)
    with open(os.path.join(logdir, logname), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             env=dict(os.environ, **(env or {})))
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM timed out after {timeout} s (see {BUILD}/logs/{logname})")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        tail = open(os.path.join(logdir, logname)).read()[-3000:]
        raise BenchError(f"JVM exited with {rc}:\n{tail}")


# ----------------------------------------------------------------- corpus

def parquet_rows(path):
    import pyarrow.parquet as pq
    files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def corpus(root, name, classes, jars):
    """Generates (once) and verifies the corpus a workload reads."""
    base = os.path.join(root, BUILD, "corpus")
    sf01 = os.path.join(base, "sf0.1")
    if not os.path.exists(os.path.join(sf01, "DONE")):
        shutil.rmtree(sf01, ignore_errors=True)
        log("generating the sf0.1 corpus ...")
        subprocess.run([sys.executable, os.path.join(HERE, "gen_corpus.py"), sf01,
                        "--seed", str(CORPUS_SEED)], check=True)
        open(os.path.join(sf01, "DONE"), "w").close()
    if name == "sf0.1":
        return sf01
    sf1 = os.path.join(base, "sf1")
    if not os.path.exists(os.path.join(sf1, "DONE")):
        shutil.rmtree(sf1, ignore_errors=True)
        log("generating the sf1 corpus (ScaleGen 10x) ...")
        run_jvm(java_cmd(classes, jars, "3g", root, "graft.ScaleGen",
                         [sf01, sf1, "10", "uniform"]), "scalegen.log", root, timeout=600,
                env={"SPARK_GRAFT_CPUS": str(CPUS)})
        for t, n in SF1_ROWS.items():
            got = parquet_rows(os.path.join(sf1, f"{t}.parquet"))
            if got != n:
                raise BenchError(f"sf1 corpus: {t} has {got} rows, expected {n}")
        open(os.path.join(sf1, "DONE"), "w").close()
    return sf1


# ------------------------------------------------------------- host stamp

def steal_ticks():
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return int(cpu[8]), sum(int(x) for x in cpu[1:])
    except (OSError, IndexError, ValueError):
        return -1, -1


def java_procs():
    n = 0
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


def load_per_core():
    try:
        return float(open("/proc/loadavg").read().split()[0]) / os.cpu_count()
    except (OSError, ValueError):
        return -1.0


# ------------------------------------------------------------- references

def record_refs(path, recs):
    """Writes `name rows digest` for each record into `path`, keeping the
    file's comment lines and the entries of queries not in `recs`."""
    head, entries = [], {}
    if os.path.exists(path):
        for line in open(path):
            if line.startswith("#"):
                head.append(line.rstrip("\n"))
            elif line.strip():
                n, rows, dig = line.split()
                entries[n] = f"{n} {rows} {dig}"
    for r in recs:
        entries[r["name"]] = f"{r['name']} {r['rows']} {r['digest']}"
    with open(path, "w") as f:
        f.write("\n".join(head + [entries[n] for n in sorted(entries)]) + "\n")


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--build-only", action="store_true",
                    help="build the classes and the corpus, then exit")
    ap.add_argument("--record-refs", metavar="DIR",
                    help="record this run's digests into DIR/<corpus>.txt instead of checking")
    a = ap.parse_args()

    root = os.getcwd()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {a.workload}; one of {sorted(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    jars = spark_jars(root)
    classes = build(root, jars)
    # every workload's corpus, so that only the first run in a checkout
    # pays for building them
    dirs = {c: corpus(root, c, classes, jars)
            for c in sorted({v["corpus"] for v in spec["workloads"].values()})}
    sf_dir = dirs[w["corpus"]]
    if a.build_only:
        return 0
    queries = w["queries"]
    # PASSES measured passes per `run_seconds` asked for
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    passes = max(1, int(PASSES * (a.seconds or bench["run_seconds"])
                        / bench["run_seconds"] + 0.5))

    work = os.path.join(root, BUILD, "work")
    os.makedirs(work, exist_ok=True)
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(queries) + "\n")
    refs = os.path.join(HERE, "refs", f"{w['corpus']}.txt")
    local = os.path.join(root, BUILD, "tmp")

    stamp0 = {"load1_per_core": load_per_core(), "java_procs": java_procs()}
    steal0, total0 = steal_ticks()
    t_start = time.time()

    trace_out = os.path.join(root, BUILD, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    extra = [f"queries={qfile}", f"seed={a.seed}", f"passes={passes}", f"trace={a.trace}"]
    if a.trace:
        os.makedirs(os.path.dirname(trace_out), exist_ok=True)
        extra.append(f"trace_out={trace_out}")
    if not a.record_refs:
        extra.append(f"refs={refs}")
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    args = [f"sf={sf_dir}", f"local_dir={local}", f"out={out}",
            f"cpus={CPUS}", f"launch_ms={int(time.time() * 1000)}"] + extra
    run_jvm(java_cmd(classes, jars, w["heap"], root, "perfbench.Harness", args),
            "harness.log", root)
    res = json.load(open(out))

    steal1, total1 = steal_ticks()
    stamp = dict(stamp0)
    stamp["steal_frac"] = ((steal1 - steal0) / (total1 - total0)
                           if steal0 >= 0 and total1 > total0 else -1.0)
    stamp["load1_per_core_end"] = load_per_core()
    stamp["busy"] = (stamp0["java_procs"] > 0 or stamp["steal_frac"] > 0.05
                     or stamp0["load1_per_core"] > 1.0)

    # every checked pass counts in attempted/failed; only the timed
    # passes' queries that passed their check count in the timings
    recs = res["queries"]
    failed = [r for r in recs if not r["ok"]]
    walls = [r["wall_s"] for r in recs if r["ok"] and r["timed"]]
    if a.record_refs:
        record_refs(os.path.join(a.record_refs, f"{w['corpus']}.txt"),
                    [r for r in recs if r["ok"]])

    e2e = {
        "setup_s": (res["setup_s"], "s", 1),
        "wall_s": (statistics.median(res["pass_wall_s"]), "s", len(res["pass_wall_s"])),
        "query_p50_s": (statistics.median(walls) if walls else -1.0, "s", len(walls)),
        "rss_peak_mb": (res["rss_peak_mb"], "MB", 1),
    }
    per_layer = {}
    if a.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        for k, v in res["layers"].items():
            per_layer[k] = (v, units.get(k, ""), len(walls))
        per_layer["failed_frac"] = (len(failed) / len(recs), "frac", len(recs))

    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(recs)} queries attempted, {len(failed)} failed "
          f"(failed_frac {len(failed) / len(recs):.4f}), "
          f"{len(res['pass_wall_s'])} measured pass(es), "
          f"{time.time() - t_start:.1f} s")
    for r in failed:
        print(f"# FAILED {r['name']}: {r.get('error', '')}")
    shown = per_layer if a.trace else e2e
    for k, (v, unit, n) in shown.items():
        print(f"# {k:28s} {v:14.4f} {unit:6s} n={n}")
    print("# host " + json.dumps(stamp))
    if stamp["busy"]:
        log("*** BUSY HOST: other java processes, host steal or load were present; "
            "this run's timings are suspect ***")
    with open(os.path.join(root, BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "host": stamp, "result": res}) + "\n")

    metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in shown.items()}
    result = {"correct": not failed, "attempted": len(recs), "failed": len(failed),
              "metrics": metrics}
    print(json.dumps(result))
    if failed and not a.record_refs:
        log(f"*** OUTPUT CHECK FAILED for {len(failed)} of {len(recs)} queries ***")
        return 1
    return 0


if __name__ == "__main__":
    # a terminated run still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"perfbench: {e}")
        sys.exit(2)
