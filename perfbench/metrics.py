"""Turns the harness record into the benchmark's metrics and checks.

End-to-end metrics (untraced runs) and per-layer metrics (traced runs)
are defined here, per workload; README.md states what each one means.
The output checks compare engine outputs with the generators' manifests,
never with the engine's own view of them.
"""
import contextlib
import io
import json
import os
import platform
import statistics
import subprocess
import sys

E2E_UNITS = {"setup_s": "s", "latency_ms": "ms", "batch_s": "s", "live_heap_mb": "MB"}

KERNELS = ("minhash_md5", "simhash64", "window_hash61", "vector_quantize",
           "dot_long", "kmv_sketch", "cms_sketch")
STAGES = ("maintain",)
ROUTES = ("search", "knn", "tokenize", "quality", "point")
CHAINS = ("windows", "signatures", "clusters", "cms_rows", "kmv_sources",
          "tf_grain", "doc_lens", "corpus_stats", "lm_scores", "ivf_vectors")


def per_layer_units():
    """Every per-layer metric with its unit. A traced run reports all of
    them, 0 where its workload does not exercise the layer."""
    u = {}
    for k in ("jobs", "stages", "tasks"):
        u[f"spark.{k}"] = "count/op"
    for k in ("task_overhead_ms", "gc_ms", "task_run_ms"):
        u[f"spark.{k}"] = "ms/op"
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        u[f"spark.{k}"] = "B/op"
    u.update({"queries.construct_ms": "ms", "queries.construct_jobs": "count/op",
              "queries.exec_ms": "ms", "queries.jobs": "count/op",
              "queries.job_ms": "ms/op"})
    for k in KERNELS:
        u[f"functions.{k}.rows_per_s"] = "rows/s"
    for k in STAGES:
        u[f"pipeline.{k}_ms"] = "ms"
    u.update({"functions.job_ms": "ms/op", "operators.job_ms": "ms/op",
              "sources.input_bytes": "B", "sources.output_bytes": "B",
              "sources.bytes_per_input_byte": "ratio", "sources.publish_ms": "ms",
              "sources.job_ms": "ms/op", "sources.point_ms": "ms",
              "sources.point_after_ms": "ms",
              "etl.run_ms": "ms", "etl.view_ms": "ms",
              "etl.job_ms": "ms/op"})
    for r in ROUTES:
        u[f"service.{r}.http_ms"] = "ms"
        u[f"service.{r}.direct_ms"] = "ms"
    u.update({"service.overhead_ms": "ms", "service.jobs_per_request": "count",
              "service.backlog_max": "count", "service.generator_late_ms": "ms",
              "service.persisted_rdds_end": "count", "trace.overhead": "ratio"})
    return u


def median(xs):
    return statistics.median(xs) if xs else 0.0


def gm(xs):
    """Geometric mean: the typical latency of a small, fixed mix of unlike
    operations (the TPC power metric's summary). Every sample moves it a
    little, where the median jumps between operations from run to run."""
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is. Below 100 samples that percentile is under
    p90, no tail at all, so the maximum stands in (reported as p100)."""
    s = sorted(xs)
    if len(s) < 100:
        return (s[-1] if s else 0.0), 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


# ------------------------------------------------------------------ checks

class Checks:
    def __init__(self):
        self.items = []

    def add(self, name, ok, detail=""):
        self.items.append((name, bool(ok), detail))

    @property
    def failed(self):
        return [c for c in self.items if not c[1]]


def check_ops(rec, checks):
    for o in rec["ops"]:
        if not o["ok"]:
            checks.add(f"{o['kind']} {o['name']} ran", False, o["err"][:200])


def check_oracle(root, work, inputs, checks):
    """Traced query-suite runs write each sampled query's rows; the
    repository's own oracle gate (tools/oracle_check.py) compares them
    with each query's oracle SQL run by DuckDB on the same tables."""
    out = os.path.join(work, "query-out")
    if not os.path.exists(os.path.join(out, "oracle_sql.json")):
        checks.add("oracle outputs written", False)
        return
    sys.path.insert(0, os.path.join(root, "tools"))
    import oracle_check
    said = io.StringIO()
    try:
        with contextlib.redirect_stdout(said):
            oracle_check.main(os.path.join(inputs, "tables"), out)
    except Exception as e:  # a query whose oracle SQL DuckDB cannot run
        checks.add("oracle check ran", False, f"{type(e).__name__}: {e}"[:200])
    for line in said.getvalue().splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in ("OK", "FAIL"):
            name, _, detail = rest.strip().partition(":")
            checks.add(f"oracle {name}", verdict == "OK", detail.strip()[:200])


def check_charges(v, m, checks):
    q = v.get("quarantine", {})
    for reason, n in m["quarantine"].items():
        checks.add(f"etl: quarantine {reason} = {n}", q.get(reason) == n, f"got {q.get(reason)}")
    checks.add("etl: no unplanted quarantine reason", set(q) <= set(m["quarantine"]), str(sorted(q)))
    checks.add(f"etl: clean rows = {m['clean']}", v.get("clean") == m["clean"],
               f"got {v.get('clean')}")


def check_pipeline(v, m, checks):
    mt = v.get("maintain", {})
    checks.add("pipeline: maintain done", mt.get("state") == "done", str(mt)[:200])
    checks.add("pipeline: every chain walked to the head version",
               all(mt.get(c, 0) > 0 and mt.get(f"{c}_built", 0) > 0 for c in CHAINS))
    cl = v.get("clusters", {})
    bad = [d for d, o in m["exact_duplicates"].items()
           if d not in cl or cl.get(d) != cl.get(str(o))]
    checks.add("pipeline: each planted exact duplicate shares its original's cluster", not bad,
               f"{len(bad)} apart")


def check_serve(load, m, checks):
    if load is None:
        checks.add("serve: load generator finished", False)
        return
    hits = m["probe_hits"]
    for phase in load:
        for r in phase["results"]:
            ok = 200 <= r["status"] < 300
            if ok and r["route"] == "point_hit":
                try:
                    rows = json.loads(r["body"])
                    ok = len(rows) == 1 and str(rows[0]["doc_id"]) == r["id"] and \
                        len(rows[0]["text"]) == rows[0]["n_chars"] == hits[r["id"]]
                except (ValueError, KeyError, TypeError):
                    ok = False
            elif ok and r["route"] == "quality":
                try:
                    rows = json.loads(r["body"])
                    ok = len(rows) == 1 and str(rows[0]["doc_id"]) == r["id"] and \
                        rows[0]["bucket"] in ("head", "middle", "tail")
                except (ValueError, KeyError, TypeError):
                    ok = False
            elif ok and r["route"] in ("point_miss", "point_removed"):
                ok = r["body"].strip() == "[]"
            r["ok"] = ok
        bad = [r for r in phase["results"] if not r["ok"]]
        checks.add(f"serve {phase['name']}: every request 2xx with the planted answer", not bad,
                   "; ".join(f"{r['route']}:{r['status']}" for r in bad[:5]))


# ----------------------------------------------------------------- metrics

def e2e(workload, rec, load, cfg):
    """The end-to-end metrics, each workload's operations mapped onto
    them (README.md, "End-to-end metrics"), plus report lines that name
    them as the workload knows them."""
    ops = [o for o in rec["ops"] if o["ok"]]
    v = rec["values"]
    if workload == "query-suite":
        lat = [o["ms"] for o in ops if o["kind"] == "query"]
        etl = [o["ms"] for o in ops if o["kind"] == "etl"]
        p, pct = tail(lat)
        gmean = gm(lat)
        vals = {"latency_ms": gmean, "batch_s": v.get("suite_ms", 0.0) / 1000}
        n = sum(1 for o in rec["ops"] if o["kind"] == "query")
        lines = [f"suite_s {vals['batch_s']:.3f} s  ({n} sampled queries, then the ETL)",
                 f"etl_s {median(etl) / 1000:.3f} s  (publish + daily totals)",
                 f"query_gmean_s {gmean / 1000:.4f} s  (n={len(lat)})",
                 f"query_p50_s {median(lat) / 1000:.4f} s",
                 f"query_tail_s {p / 1000:.4f} s  (p{pct:.0f}, n={len(lat)})"]
    else:
        phases = {ph["name"]: [r["ms"] for r in ph["results"]] for ph in (load or [])}
        lat = [x for xs in phases.values() for x in xs]
        p, pct = tail(lat)
        batch = {o["kind"]: o["ms"] / 1000 for o in ops}
        # the mean, not the geometric mean: requests range from a few ms
        # (/tokenize) to seconds, and the log of a few ms swings widely
        vals = {"latency_ms": statistics.fmean(lat) if lat else 0.0,
                "batch_s": sum(batch.values())}
        best = 0.0
        for ph in (load or []):
            if tail(phases[ph["name"]])[0] <= cfg["serve_limit_ms"] and \
                    all(r["ok"] for r in ph["results"]) and ph["backlog_max"] <= (v.get("nproc") or 1):
                best = max(best, ph["rate"])
        lines = [f"pipeline_s {batch.get('pipeline', 0):.3f} s  (raw corpus to maintained lake)",
                 f"serve.mean_ms {vals['latency_ms']:.1f} ms  (n={len(lat)})",
                 f"serve.p50_ms {median(lat):.1f} ms",
                 f"serve.tail_ms {p:.1f} ms  (p{pct:.0f}, n={len(lat)})"]
        for name, xs in phases.items():
            t, tp = tail(xs)
            lines.append(f"serve.{name}.p50_ms {median(xs):.1f} ms, tail {t:.1f} ms (p{tp:.0f}, n={len(xs)})")
        by_route = {}
        for r in (x for ph in (load or []) for x in ph["results"]):
            by_route.setdefault(r["route"], []).append(r["service_ms"])
        lines.append("serve service_ms by route: " + ", ".join(
            f"{k} {median(xs):.0f} (n={len(xs)})" for k, xs in sorted(by_route.items())))
        lines.append(f"serve_max_rps {best:g} 1/s  (rates {[r for _, r in cfg['serve_rates']]}, "
                     f"limit {cfg['serve_limit_ms']:g} ms)")
    vals["setup_s"] = v.get("setup_s", 0.0)
    vals["live_heap_mb"] = v["live_heap_mb"]
    return vals, lines


def per_layer(workload, rec, load):
    u = per_layer_units()
    out = {k: 0.0 for k in u}
    v = rec["values"]
    spans = rec["spans"]
    # A job belongs to the timed operation it ran inside. Jobs launched
    # on the server's threads (the pipeline's /index/maintain and every
    # served request) carry no span, so they are placed by time within
    # the pipeline or the serving window.
    windows = [(s["start_ns"], s["end_ns"], s["op"], s["name"]) for s in spans
               if s["layer"] == "op" and s["name"] in ("pipeline", "serve")]
    jobs = []
    for j in rec["jobs"]:
        if j["op"] == 0:
            w = next((w for w in windows if w[0] <= j["start_ns"] <= w[1]), None)
            if w is None:
                continue
            j = dict(j, op=w[2], span=w[3])
        jobs.append(j)
    side = ("kernel.", "direct.", "sources.point")
    timed = [j for j in jobs if not j["span"].startswith(side)]
    # operations: the queries and the ETL, or the pipeline and every
    # served request
    res = [r for ph in (load or []) for r in ph["results"]]
    n_ops = max(1, len(rec["ops"]) + len(res))

    def tot(k, js=timed):
        return sum(j[k] for j in js)

    def span_ms(name):
        return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name]
    out["spark.jobs"] = len(timed) / n_ops
    for k, f in (("stages", "stages"), ("tasks", "tasks"), ("task_overhead_ms", "task_overhead_ms"),
                 ("shuffle_write_bytes", "shuffle_write"), ("shuffle_read_bytes", "shuffle_read"),
                 ("spill_bytes", "spill"), ("gc_ms", "gc_ms"), ("task_run_ms", "task_run_ms")):
        out[f"spark.{k}"] = tot(f) / n_ops
    for mod in ("functions", "operators", "sources", "etl", "queries"):
        out[f"{mod}.job_ms"] = tot("ms", [j for j in timed if j["module"] == mod]) / n_ops
    out["sources.input_bytes"] = v.get("input_bytes", 0)
    out["sources.output_bytes"] = v.get("output_bytes", 0)
    if v.get("input_bytes"):
        out["sources.bytes_per_input_byte"] = v["output_bytes"] / v["input_bytes"]
    # the ETL's Versioned publish: zone maps, blooms, the version commit
    out["sources.publish_ms"] = tot("ms", [j for j in timed
                                           if j["module"] == "sources" and j["span"] == "etl.run"])
    out["etl.run_ms"] = median(span_ms("etl.run"))
    out["etl.view_ms"] = median(span_ms("etl.view"))
    if workload == "query-suite":
        out["queries.construct_ms"] = median([o["construct_ms"] for o in rec["ops"]
                                              if o["kind"] == "query" and o["ok"]])
        out["queries.exec_ms"] = median(span_ms("exec"))
        cj = [j for j in timed if j["span"] == "construct"]
        ej = [j for j in timed if j["span"] == "exec"]
        out["queries.construct_jobs"] = len(cj) / n_ops
        out["queries.jobs"] = (len(cj) + len(ej)) / n_ops
        out["queries.job_ms"] = tot("ms", cj + ej) / n_ops
        return out, u
    for k in KERNELS:
        out[f"functions.{k}.rows_per_s"] = v.get(f"kernel.{k}.rows_per_s", 0.0)
    for k in STAGES:
        out[f"pipeline.{k}_ms"] = median(span_ms(f"pipeline.{k}"))
    out["sources.point_ms"] = v.get("point_ms_before", 0.0)
    out["sources.point_after_ms"] = v.get("point_ms_after", 0.0)
    for r in ROUTES:
        key = "point_hit" if r == "point" else r
        out[f"service.{r}.http_ms"] = median([x["service_ms"] for x in res if x["route"] == key])
        out[f"service.{r}.direct_ms"] = v.get(f"direct_ms.{r}", 0.0)
    out["service.overhead_ms"] = median(
        [out[f"service.{r}.http_ms"] - out[f"service.{r}.direct_ms"] for r in ROUTES])
    out["service.jobs_per_request"] = sum(1 for j in timed if j["span"] == "serve") / max(1, len(res))
    out["service.backlog_max"] = max([ph["backlog_max"] for ph in (load or [])] or [0])
    out["service.generator_late_ms"] = median([x["late_ms"] for x in res])
    out["service.persisted_rdds_end"] = v.get("persisted_rdds_served", 0)
    return out, u


def provenance(rec, args, root, cfg):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    v = rec["values"]
    return {"commit": commit, "source": cfg["fingerprint"][:16], "seed": args.seed,
            "workload": args.workload, "trace": args.trace, "nproc": v.get("nproc"),
            "cpu_probe_ms": v.get("cpu_probe_ms"), "load_start": v.get("load_start"),
            "load_end": v.get("load_end"), "input_gen_s": round(cfg["gen_s"], 3),
            "python": platform.python_version()}


def evaluate(args, rec, man, load, work, inputs, state, root, cfg):
    checks = Checks()
    check_ops(rec, checks)
    v = rec["values"]
    checks.add("harness ran to the end", "error" not in v, v.get("error", ""))
    if args.workload == "query-suite":
        if args.trace == 1:
            check_oracle(root, work, inputs, checks)
        check_charges(v, man["charges"], checks)
        missing = v.get("queries_missing", [])
        checks.add("every sampled query is declared", not missing, ",".join(missing))
        attempted = len(rec["ops"])
    else:
        check_pipeline(v, man["corpus"], checks)
        check_serve(load, man["corpus"], checks)
        attempted = len(rec["ops"]) + sum(len(ph["results"]) for ph in (load or []))
    attempted += len(checks.items)
    failed = len(checks.failed)
    vals, wl_lines = e2e(args.workload, rec, load, cfg)
    lines = [f"# graft benchmark: {args.workload} seed={args.seed} trace={args.trace}",
             "# provenance " + json.dumps(provenance(rec, args, root, cfg))]
    lines += ["# " + ln for ln in wl_lines]
    lines.append(f"# fail_share {failed / attempted:.4f}  ({failed} of {attempted} operations and checks)")
    lines += [f"# FAILED CHECK {name} {detail}" for name, ok, detail in checks.failed]
    # the untraced run of the same sources, workload and seed, if any
    last = os.path.join(state, f"untraced-{args.workload}-{cfg['fingerprint'][:16]}-{args.seed}.json")
    if args.trace == 0:
        metrics = {k: {"value": vals[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS}
        with open(last, "w") as f:
            json.dump(vals, f)
    else:
        layer, units = per_layer(args.workload, rec, load)
        if os.path.exists(last):
            base = json.load(open(last)).get("batch_s")
            if base:
                layer["trace.overhead"] = vals["batch_s"] / base
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    lines += [f"# {k} {vals[k]:.4f} {E2E_UNITS[k]}" for k in E2E_UNITS]
    return {"lines": lines, "result": {"correct": failed == 0, "attempted": attempted,
                                       "failed": failed, "metrics": metrics}}
