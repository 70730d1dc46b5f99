"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed and size arguments and
writes a manifest of what it planted; the output checks in run.py take
their expectations from those manifests, never from the engine.

  tables    TPC-H-ish star schema + events + documents + embeddings, in
            the column layout of the engine's parquet tables
  corpus    a raw document/embedding corpus with planted exact and
            near duplicates
            (SynthCorpus's replica scheme, with the seed as a parameter)
  charges   the reference ETL's charges CSV with every dirty-row class
            planted at a stated rate
  schedule  the open-loop request schedule for the serving workload
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


# ---------------------------------------------------------------- tables

TABLE_WORDS = ("join hash row batch scan column customer filter small slow "
               "merge order vector line data table agg value key stream "
               "window a spark part group big sort query fast the").split()
PART_ADJ = "old red large new hot blue small cold".split()
PART_NOUN = "bolt ring anvil plate widget gear rod gizmo".split()


def _ts(start, n_days, rng, n, micros=False):
    base = np.datetime64(start, "us" if micros else "D")
    if micros:
        off = rng.integers(0, n_days * 86_400_000_000, n)
        return (base + off.astype("timedelta64[us]")).astype("datetime64[us]")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def gen_tables(seed, out, sf):
    """The engine's query tables at scale factor `sf` (lineitem ~6M*sf)."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 1)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                  "FURNITURE", "BUILDING"], n_cust)}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                            "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", 2400, r, n_ord),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    okey = r.integers(0, n_ord, n_line)
    qty = r.integers(1, 51, n_line).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": r.choice(["R", "A", "N"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", 2500, r, n_line)}),
        f"{out}/lineitem.parquet")
    ets = np.sort(_ts("2024-01-01", 30, r, n_events, micros=True))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_events), pa.int64()),
        "event_type": r.choice(["error", "view", "purchase", "click", "signup"], n_events),
        "value": np.round(r.exponential(60.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]}),
        f"{out}/events.parquet")
    texts, langs = [], []
    for i in range(n_docs):
        if i % 20 == 6 and i > 20:
            texts.append(texts[i - 18] + " dup")  # planted near duplicate
        else:
            texts.append(" ".join(r.choice(TABLE_WORDS, int(r.integers(10, 100)))))
        langs.append(r.choice(["en", "en", "en", "zh", "de", "es", "fr"]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    _write(_embeddings(r, np.arange(n_emb)), f"{out}/embeddings.parquet")


def _embeddings(r, ids, dim=64, labels=10):
    centers = _rng(7, 7).normal(0, 0.15, (labels, dim))
    lab = r.integers(0, labels, len(ids))
    vec = (centers[lab] + r.normal(0, 0.08, (len(ids), dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


# ---------------------------------------------------------------- corpus

STOPWORDS = "the a of and to in is it that for".split()
ID_STRIDE = 10_000_000  # SynthCorpus.IdStride: replica ids sit far above seeds


def _vocab(size):
    syll = "ka lo mi ne ru sa to vi be da fe gu ha ji".split()
    words = []
    for i in range(size):
        w, k = [], i
        for _ in range(3):
            w.append(syll[k % len(syll)])
            k //= len(syll)
        words.append("".join(w) + ("" if i < 2744 else str(i)))
    return words


def gen_corpus(seed, out, n_seed_docs, factor):
    """Raw corpus: `n_seed_docs` seed documents scaled `factor`x with
    SynthCorpus's replica scheme (fresh resamples of the vocabulary
    with ~4% near-duplicate replicas that mutate one word in 25), plus
    planted verbatim duplicates of 1% of the documents."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 2)
    vocab = np.array(_vocab(3000))
    def sample(n):
        words = r.choice(vocab, n)
        stop = r.random(n) < 0.25
        words[stop] = r.choice(STOPWORDS, int(stop.sum()))
        return list(words)
    ids, texts = [], []
    base = [sample(int(r.integers(20, 120))) for _ in range(n_seed_docs)]
    near = []
    for rep in range(factor):
        for i, words in enumerate(base):
            did = i + rep * ID_STRIDE
            if rep > 0 and r.random() < 0.04:
                words = [str(r.choice(vocab)) if r.integers(25) == 0 else w
                         for w in words]
                near.append(did)
            elif rep > 0:
                words = sample(len(words))
            ids.append(did)
            texts.append(words)
    # verbatim duplicates of seeded originals, appended with fresh ids
    exact = {}
    originals = r.choice(len(ids), max(1, len(ids) // 100), replace=False)
    for j, k in enumerate(sorted(int(x) for x in originals)):
        did = (factor + 1) * ID_STRIDE + j
        exact[did] = ids[k]
        ids.append(did)
        texts.append(list(texts[k]))
    strs = [" ".join(w) for w in texts]
    langs = r.choice(["en", "en", "en", "de", "fr", "es"], len(ids))
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": strs, "lang": langs,
        "source": [f"src{d % 20}" for d in ids],
        "n_chars": pa.array([len(t) for t in strs], pa.int64())}),
        f"{out}/documents.parquet")
    _write(_embeddings(r, np.array(ids)), f"{out}/embeddings.parquet")
    dup_ids = set(exact) | set(exact.values())
    probes = [int(k) for k in r.choice(len(ids), 64, replace=False) if ids[int(k)] not in dup_ids]
    manifest = {"docs": len(ids), "exact_duplicates": {str(k): v for k, v in exact.items()},
                "near_duplicates": near,
                "probe_terms": [str(w) for w in r.choice(vocab[:400], 24)],
                # point-read probes: doc_id -> the planted row's n_chars
                "probe_hits": {str(ids[k]): len(strs[k]) for k in probes},
                "probe_misses": [str(9 * ID_STRIDE + j) for j in range(64)]}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


# ---------------------------------------------------------------- charges

COMPANIES = [("MiPasajefy", 0.80), ("Muebles chidos", 0.10), ("Zapatos Lolo", 0.04),
             ("Cafe Norte", 0.03), ("Libros Sur", 0.03)]
STATUSES = [("paid", 0.59), ("voided", 0.21), ("pending_payment", 0.188),
            ("refunded", 0.009), ("charged_back", 0.002), ("pre_authorized", 0.001)]
# quarantine classes (FIXTURES §2), each planted at `rate` of the rows
QUARANTINE = {
    "missing_id": 3e-4,
    "missing_company_id": 4e-4,
    "missing_created_at": 3e-4,   # ISO timestamps and compact dates
    "invalid_amount": 4e-4,       # over the DECIMAL(16,2) cap, or float overflow
}
# dirty rows the ETL keeps (FIXTURES §2, second table)
KEPT = {"star_company_id": 1e-4, "corrupt_status": 2e-4,
        "variant_name": 2e-4, "null_name": 3e-4}


def _sha1(*parts):
    return hashlib.sha1("/".join(map(str, parts)).encode()).hexdigest()


def gen_charges(seed, out, rows):
    """The charges CSV, every FIXTURES §2 class planted at its rate."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 3)
    comp_p = np.array([p for _, p in COMPANIES]); comp_p /= comp_p.sum()
    stat_p = np.array([p for _, p in STATUSES]); stat_p /= stat_p.sum()
    comp = r.choice(len(COMPANIES), rows, p=comp_p)
    stat = r.choice(len(STATUSES), rows, p=stat_p)
    day = r.integers(0, 140, rows)
    cents = r.integers(100, 1_000_000, rows)
    paid = r.random(rows) < 0.6
    classes = {}
    kinds = list(QUARANTINE.items()) + list(KEPT.items())
    planted = np.full(rows, "", dtype=object)
    order = r.permutation(rows)
    at = 0
    for name, rate in kinds:
        n = max(2, int(round(rows * rate)))
        classes[name] = n
        planted[order[at:at + n]] = name
        at += n
    start = dt.date(2019, 1, 1)
    lines = ["id,name,company_id,amount,status,created_at,paid_at"]
    for i in range(rows):
        cname = COMPANIES[comp[i]][0]
        cid = _sha1("company", cname)
        rid = _sha1(seed, "charge", i)
        amount = f"{cents[i] // 100}.{cents[i] % 100:02d}"
        status = STATUSES[stat[i]][0]
        created = (start + dt.timedelta(days=int(day[i]))).isoformat()
        paid_at = (start + dt.timedelta(days=int(day[i]) + 3)).isoformat() if paid[i] else ""
        name = cname
        k = planted[i]
        if k == "missing_id":
            rid = ""
        elif k == "missing_company_id":
            cid = ""
        elif k == "missing_created_at":
            created = created + "T00:00:00" if i % 2 else created.replace("-", "")
        elif k == "invalid_amount":
            amount = ["2131231231231231150.86", "21321323123121133.0",
                      "3.0e213231213123", "3.0e34"][i % 4]
        elif k == "star_company_id":
            cid, name = "*******", cname
        elif k == "corrupt_status":
            status = ["p&0x3fid", "0xFFFF"][i % 2]
        elif k == "variant_name":
            name = ["MiPas0xFFFF", "MiP0xFFFF"][i % 2]
        elif k == "null_name":
            name = ""  # filled from the company's first name in file order
        lines.append(",".join([rid, name, cid, amount, status, created, paid_at]))
    with open(f"{out}/charges.csv", "w") as f:
        f.write("\n".join(lines) + "\n")

    manifest = {
        "rows": rows, "planted": classes,
        "quarantine": {k: classes[k] for k in QUARANTINE},
        "clean": rows - sum(classes[k] for k in QUARANTINE),
    }
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


# ---------------------------------------------------------------- schedule

def gen_schedule(seed, out, corpus_manifest, rates, seconds, routes):
    """Open-loop schedule: at each rate, evenly spaced arrivals for
    `seconds` (a seeded offset within the first gap; fixed spacing keeps
    queueing from differing seed to seed), routes walking the fixed cycle
    `routes`, /search terms in sessions of related queries (each session
    refines one seed term), /knn near a few seed vectors, /quality and
    /lake/point hits on planted live documents, /lake/point misses, and
    a /lake/remove takedown followed by a probe of the removed id.
    Returns the live ids, which no request takes down."""
    r = _rng(seed, 4)
    terms = corpus_manifest["probe_terms"]
    hits = sorted(corpus_manifest["probe_hits"])
    misses = corpus_manifest["probe_misses"]
    r.shuffle(hits)
    takedowns = hits[: len(hits) // 4]
    live = hits[len(hits) // 4:]
    phases = []
    for rate_name, rate in rates:
        n = int(rate * seconds)
        due = (np.arange(n) + r.random()) / rate
        reqs, session = [], []
        # routes walk a fixed cycle: every seed sends the same mix in the
        # same order, so the latency distribution's shape does not drift
        for j, t in enumerate(due):
            name = routes[j % len(routes)]
            req = {"due": float(t), "route": name}
            if name == "search":
                if not session or r.random() < 0.3:
                    session = [str(r.choice(terms))]
                session.append(str(r.choice(terms)))
                req["q"] = " ".join(session[-3:])
            elif name == "knn":
                req["seed_vec"] = int(r.integers(0, 4))
                req["jitter"] = int(r.integers(0, 1 << 30))
            elif name == "tokenize":
                req["text"] = " ".join(r.choice(terms, 6))
            elif name in ("quality", "point_hit"):
                req["id"] = str(r.choice(live))
            elif name == "point_miss":
                req["id"] = str(r.choice(misses))
            reqs.append(req)
        phases.append({"name": rate_name, "rate": rate, "requests": reqs})
    # the write share: one takedown as the last phase closes (a new lake
    # version every later read walks), then a probe of the removed id
    phases[-1]["requests"].append({"due": seconds - 0.5, "route": "remove", "id": takedowns[0]})
    with open(out, "w") as f:
        json.dump({"phases": phases}, f)
    return live
