"""Open-loop load generator for the serve-mixed workload.

Runs as its own process. Replays a seeded schedule (gen.gen_schedule)
against a running graft RestApi with at most nproc requests in flight: each request is sent when due (or as soon as a connection frees
up) and timed from when it was due, so a stall shows as latency on every
request queued behind it.

Usage: loadgen.py --port P --dir CORPUS --lake LAKE --schedule FILE
                  --vectors FILE --out FILE
"""
import argparse
import http.client
import json
import os
import queue
import threading
import time
import urllib.parse

CONNECTIONS = os.cpu_count() or 1
TIMEOUT_S = 20.0  # a request still unanswered after this counts as failed


def request(conn, spec, ctx):
    route = spec["route"]
    q = urllib.parse.quote
    if route == "search":
        return "GET", f"/search?dir={q(ctx['dir'])}&q={q(spec['q'])}&limit=10", None
    if route == "knn":
        base = ctx["vectors"][spec["seed_vec"]]
        j = spec["jitter"]
        vec = [x + ((j >> (i % 30)) & 1) * 0.001 for i, x in enumerate(base)]
        return "GET", f"/knn?dir={q(ctx['dir'])}&limit=5&vec=" + ",".join(f"{x:.6f}" for x in vec), None
    if route == "tokenize":
        return "POST", "/tokenize", json.dumps({"text": spec["text"], "dir": ctx["dir"]})
    if route == "quality":
        return "GET", f"/quality?dir={q(ctx['dir'])}&doc_id={spec['id']}", None
    if route.startswith("point"):
        return "GET", (f"/lake/point?base={q(ctx['lake'])}&table=documents&col=doc_id"
                       f"&type=long&value={spec['id']}"), None
    if route == "remove":
        return "POST", (f"/lake/remove?base={q(ctx['lake'])}&table=documents&col=doc_id"
                        f"&type=long&values={spec['id']}"), ""
    raise ValueError(route)


def run_phase(phase, ctx):
    reqs = phase["requests"]
    todo = queue.Queue()
    for i, spec in enumerate(reqs):
        todo.put(i)
    results = [None] * len(reqs)
    extra = []
    start = time.monotonic() + 0.05
    backlog = {"max": 0, "inflight": 0}
    lock = threading.Lock()

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", ctx["port"], timeout=TIMEOUT_S)
        while True:
            try:
                i = todo.get_nowait()
            except queue.Empty:
                break
            spec = reqs[i]
            due = start + spec["due"]
            now = time.monotonic()
            if now < due:
                time.sleep(due - now)
            # requests due but not yet sent: the generator's backlog
            with lock:
                waiting = sum(1 for s in reqs if start + s["due"] <= time.monotonic()) \
                    - sum(1 for r in results if r is not None) - backlog["inflight"]
                backlog["max"] = max(backlog["max"], waiting)
                backlog["inflight"] += 1
            sent = time.monotonic()
            method, path, body = request(conn, spec, ctx)
            status, text = 0, ""
            try:
                conn.request(method, path, body=body,
                             headers={"Content-Type": "application/json"} if body is not None else {})
                resp = conn.getresponse()
                status, text = resp.status, resp.read().decode("utf-8", "replace")
            except Exception as e:  # timeout or reset: counted as failed
                text = f"{type(e).__name__}: {e}"
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", ctx["port"], timeout=TIMEOUT_S)
            end = time.monotonic()
            with lock:
                backlog["inflight"] -= 1
            results[i] = {"route": spec["route"], "status": status,
                          "ms": (end - due) * 1000.0, "service_ms": (end - sent) * 1000.0,
                          "late_ms": max(0.0, sent - due) * 1000.0,
                          "id": spec.get("id"), "body": text if spec["route"] not in ("search", "knn") else ""}
            if spec["route"] == "remove" and status == 200:
                # the takedown's audit: the removed id must now read as absent
                method, path, body = request(conn, dict(spec, route="point"), ctx)
                conn.request(method, path)
                resp = conn.getresponse()
                text = resp.read().decode("utf-8", "replace")
                t = time.monotonic()
                extra.append({"route": "point_removed", "status": resp.status,
                              "ms": (t - end) * 1000.0, "service_ms": (t - end) * 1000.0,
                              "late_ms": 0.0, "id": spec["id"], "body": text})
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"name": phase["name"], "rate": phase["rate"], "results": results + extra,
            "backlog_max": backlog["max"], "wall_s": time.monotonic() - start}


def main():
    ap = argparse.ArgumentParser()
    for a in ("port", "dir", "lake", "schedule", "vectors", "out"):
        ap.add_argument("--" + a, required=True)
    args = ap.parse_args()
    ctx = {"port": int(args.port), "dir": args.dir, "lake": args.lake,
           "vectors": json.load(open(args.vectors))}
    sched = json.load(open(args.schedule))
    out = [run_phase(p, ctx) for p in sched["phases"]]
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
