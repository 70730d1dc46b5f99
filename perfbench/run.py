#!/usr/bin/env python3
"""graft benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the engine
and the harness from source (sbt, into the checkout's own target dirs);
each run then generates its inputs from the seed under .bench_build/,
runs the workload in one JVM with the GraftSession.builder posture
(AQE on, local[nproc]), checks the outputs against what the generators
planted, and prints a human-readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 attaches the
benchmark's SparkListener and span recorder and reports the per-layer
metrics instead. See perfbench/README.md for workloads, metric
definitions and the stated gaps.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("query-suite", "pipeline-serve")

# input sizes: fixed here, identical for every seed and every commit
TABLE_SF = 0.01          # query tables: lineitem ~60k rows
QUERY_SAMPLE = 5         # queries sampled from the 162, stratified by module
CORPUS_SEED_DOCS = 150   # raw corpus: 150 seed docs ...
CORPUS_FACTOR = 2        # ... scaled 2x with SynthCorpus's replica scheme
CHARGES_ROWS = 10_000    # charges CSV rows, the reference file's size

# serving: fixed once, from measurements when the benchmark was
# defined (see README.md); later changes never move them
SERVE_RATES = (("low", 0.7), ("high", 2.0))
SERVE_LIMIT_MS = 2500.0
SERVE_ROUTES = ("point_hit", "search", "quality", "point_miss", "knn", "tokenize",
                "point_hit", "search", "point_miss", "tokenize")

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_fingerprint(root):
    h = hashlib.sha1()
    for base in ("src/main", "project/build.properties", "build.sbt",
                 "perfbench/harness/build.sbt", "perfbench/harness/src"):
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f[len(root):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile engine + harness once per source fingerprint; returns the
    runtime classpath."""
    fp = source_fingerprint(root)
    cp_file = os.path.join(state, f"classpath-{fp[:16]}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), fp
    log("perfbench: building engine and harness (sbt)...")
    t0 = time.time()
    harness = os.path.join(root, "perfbench", "harness")
    env = dict(os.environ, LC_ALL="C.utf8", LANG="C.utf8")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false",
                        "harness/compile", "export harness/Runtime/fullClasspath"],
                       cwd=harness, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp, fp


# ----------------------------------------------------------------- inputs

def query_sample(seed):
    """The fixed sample, stratified by query module with proportional
    allocation (largest remainder): QUERY_SAMPLE queries in all, each
    module's share taken as its queries whose names hash lowest.
    queries.json pins the population, so the sample depends on neither
    the commit nor the seed; the seed only orders it."""
    import random
    by_mod = json.load(open(os.path.join(HERE, "queries.json")))
    total = sum(len(v) for v in by_mod.values())
    quota = {m: QUERY_SAMPLE * len(v) / total for m, v in by_mod.items()}
    take = {m: int(q) for m, q in quota.items()}
    for m in sorted(quota, key=lambda m: (take[m] - quota[m], m))[:QUERY_SAMPLE - sum(take.values())]:
        take[m] += 1
    picked = []
    for mod in sorted(by_mod):
        names = sorted(by_mod[mod], key=lambda n: hashlib.md5(n.encode()).hexdigest())
        picked += names[:take[mod]]
    random.Random(seed).shuffle(picked)
    return picked


def make_inputs(workload, seed, seconds, inputs):
    t0 = time.time()
    os.makedirs(inputs, exist_ok=True)
    man = {}
    if workload == "query-suite":
        gen.gen_tables(seed, f"{inputs}/tables", TABLE_SF)
        order = query_sample(seed)
        with open(f"{inputs}/query_order.txt", "w") as f:
            f.write("\n".join(order) + "\n")
        man["queries"] = order
        man["charges"] = gen.gen_charges(seed, f"{inputs}/charges", CHARGES_ROWS)
    if workload == "pipeline-serve":
        man["corpus"] = gen.gen_corpus(seed, f"{inputs}/corpus", CORPUS_SEED_DOCS, CORPUS_FACTOR)
        live = gen.gen_schedule(seed, f"{inputs}/schedule.json", man["corpus"],
                                SERVE_RATES, seconds / len(SERVE_RATES), SERVE_ROUTES)
        import pyarrow.parquet as pq
        emb = pq.read_table(f"{inputs}/corpus/embeddings.parquet").column("embedding")
        with open(f"{inputs}/vectors.json", "w") as f:
            json.dump([list(map(float, emb[i].as_py())) for i in range(4)], f)
        with open(f"{inputs}/serve_probe.txt", "w") as f:
            f.write("\n".join(sorted(live)[:16]) + "\n")
        with open(f"{inputs}/corpus_dups.txt", "w") as f:
            f.write("\n".join(f"{k}\n{v}" for k, v in man["corpus"]["exact_duplicates"].items()) + "\n")
        with open(f"{inputs}/serve_terms.txt", "w") as f:
            f.write("\n".join(man["corpus"]["probe_terms"]) + "\n")
    return man, time.time() - t0


# -------------------------------------------------------------------- run

def run_jvm(args, root, cp, work, inputs, out):
    heap = "3g"
    env = dict(os.environ, LC_ALL="C.utf8", LANG="C.utf8",
               SPARK_GRAFT_INDEX_DIR=f"{work}/index",
               SPARK_GRAFT_IVF_DIR=f"{work}/ivf",
               SPARK_GRAFT_PQ_DIR=f"{work}/pq",
               SPARK_LOCAL_DIRS=f"{work}/spark-local")
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseG1GC", *JAVA_OPENS,
           "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}/derby", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Harness",
           "--workload", args.workload, "--trace", str(args.trace), "--inputs", inputs, "--work", work,
           "--src", os.path.join(root, "src/main/scala/graft"), "--out", out]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    logf = open(f"{work}/jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
    return proc, logf


def stop(proc, grace=5):
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=grace)
        except Exception:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def drive_serve(work, inputs, proc):
    """Waits for the served JVM, runs the load generator as its own
    process, then signals the JVM that the load is over."""
    ready = f"{work}/ready.json"
    deadline = time.time() + 150
    while not os.path.exists(ready):
        if proc.poll() is not None or time.time() > deadline:
            return None
        time.sleep(0.1)
    info = json.load(open(ready))
    out = f"{work}/load.json"
    gen_p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(info["port"]),
         "--dir", info["dir"], "--lake", info["lake"], "--schedule", f"{inputs}/schedule.json",
         "--vectors", f"{inputs}/vectors.json", "--out", out],
        stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        gen_p.wait(timeout=120)
    finally:
        stop(gen_p)
        open(f"{work}/done", "w").close()
    return json.load(open(out)) if os.path.exists(out) else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and load generator (the
    # finally blocks below), which run in sessions of their own
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp, fingerprint = build(root, state)

    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    man, gen_s = make_inputs(args.workload, args.seed, args.seconds, inputs)
    out = os.path.join(work, "record.json")
    t_jvm = time.time()
    proc, logf = run_jvm(args, root, cp, work, inputs, out)
    load = None
    try:
        if args.workload == "pipeline-serve":
            load = drive_serve(work, inputs, proc)
        proc.wait(timeout=170)
    except subprocess.TimeoutExpired:
        pass
    finally:
        stop(proc)
        logf.close()
    log(f"perfbench: inputs {gen_s:.1f} s, jvm {time.time() - t_jvm:.1f} s")
    if not os.path.exists(out):
        log(open(f"{work}/jvm.log").read()[-6000:])
        fail("the harness wrote no record")
    rec = json.load(open(out))
    report = metrics.evaluate(args, rec, man, load, work, inputs, state, root,
                              dict(gen_s=gen_s, serve_limit_ms=SERVE_LIMIT_MS,
                                   serve_rates=SERVE_RATES, fingerprint=fingerprint))
    for line in report["lines"]:
        print(line)
    print(json.dumps(report["result"]))
    # keep the last record (ops, spans, jobs), JVM log and served
    # requests for inspection; drop the rest
    for src, ext in ((out, "json"), (f"{work}/jvm.log", "log"), (f"{work}/load.json", "load.json")):
        if os.path.exists(src):
            shutil.copy(src, os.path.join(state, f"last-{args.workload}-trace{args.trace}.{ext}"))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if report["result"]["correct"] else 1)


if __name__ == "__main__":
    main()
