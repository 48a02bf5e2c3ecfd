"""Seeded input generator for the benchmark.

Two products, both pure functions of their arguments (same arguments,
same bytes):

* ``make_tables(out_dir, rows)`` writes the ten harness tables the
  query surface reads (region, nation, customer, supplier, part,
  orders, lineitem, events, documents, embeddings) with the schemas of
  the engine's test fixtures: TPC-H-shaped relational tables, an event
  stream, a word-salad document corpus with near-duplicates, and
  clustered unit-norm embeddings.
* ``make_jobs(out_dir, docs, seed, ...)`` writes a raw job-listings feed
  in the reference API shape (one JSON object per line), derived from
  the generated documents, plus the incremental micro-batch files and
  an independent tally of what the star build must produce.
"""
import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = ("join hash row batch scan column customer filter small slow "
             "merge order vector line table data agg value key stream "
             "window a spark part group big sort query fast the").split()

# The engine's skill vocabulary (graft.etl.Transform.ReferenceVocab).
SKILLS = [
    "python", "java", "sql", "javascript", "react", "angular", "node.js",
    "aws", "azure", "gcp", "docker", "kubernetes", "tensorflow", "pytorch",
    "machine learning", "data science", "analytics", "excel", "tableau",
    "power bi", "c++", "c#", "php", "ruby", "go", "devops", "agile",
    "scrum", "git", "api", "rest", "graphql", "cloud", "security",
    "linux", "unix", "windows server", "networking", "database", "html",
    "css", "mongodb", "cassandra", "kafka", "spark", "hadoop", "big data",
    "etl", "data warehousing", "airflow", "dbt", "azure devops", "jira",
    "confluence"]

TITLES = ["Data Engineer", "Software Engineer", "Analytics Engineer",
          "Data Analyst", "ML Engineer", "Platform Engineer",
          "Backend Developer", "BI Developer", "Cloud Architect",
          "DevOps Engineer", "Data Scientist", "Database Administrator"]
LEVELS = ["", "Senior ", "Junior ", "Lead ", "Staff "]
EMPLOYMENT = ["Full-time", "Full-time", "Full-time", "Part-time",
              "Full–time", "Full-time and Part-time", "Contractor"]
PUBLISHERS = ["linkedin", "Indeed", "glassdoor", "ZipRecruiter",
              "snagajob", "Monster", "dice", "BeBee", "careerbuilder",
              "Upwork", "talent", "Jooble"]
STATES = ["CA", "NY", "TX", "WA", "IL", "MA", "CO", "GA", "FL", "OH",
          "VA", "NC", "OR", "PA", "MN", "AZ", "DC", "MI", "UT", "NJ"]
BULLETS = ["Build pipelines", "Own the warehouse", "Write tests",
           "Review designs", "Health insurance", "401k match",
           "Remote stipend", "3+ years experience", "BS in CS",
           "On-call rotation"]

# Postings span this many days back from the clock: a weekly feed (the
# fact table is partitioned by posting date).
DAYS = 7
# The ingestion clock the benchmark passes to the pipeline.
NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)
NOW_SQL = "2026-01-01 00:00:00"


def _ts(base, seconds):
    """timestamp[us] (no zone) array from a base datetime + offsets."""
    us = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    epoch = int(base.replace(tzinfo=timezone.utc).timestamp() * 1e6)
    return pa.array(us + epoch, type=pa.timestamp("us"))


def make_tables(out_dir, rows=60000, seed=42):
    """The harness tables, sized by the lineitem row count (TPC-H
    ratios: orders = rows/4, customer = rows/40, part = rows/30,
    supplier = rows/600)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ord, n_cust = rows // 4, max(rows // 40, 10)
    n_part, n_supp = max(rows // 30, 10), max(rows // 600, 5)
    n_ev, n_docs, n_emb = rows // 6, max(rows // 60, 200), max(rows // 60, 200)

    def put(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "cold",
                    "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "rod", "plate",
                     "nut", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(datetime(1995, 1, 1),
                           rng.integers(0, 2400, n_ord) * 86400),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, rows), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, rows), 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, rows)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, rows)],
        "l_shipdate": _ts(datetime(1995, 1, 2),
                          rng.integers(0, 2500, rows) * 86400)})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_cust // 10 + 1, n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(25.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:      # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(DOC_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(DOC_WORDS[w] for w in words))
    langs = np.array(["en", "en", "fr", "es", "zh", "de"])
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 6, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.15 * centers[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return texts


def _initcap(s):
    """Spark's initcap: lower-case, then upper-case each word's first
    letter (words split on single spaces)."""
    return " ".join(w[:1].upper() + w[1:] for w in s.lower().split(" "))


def _zipf_pick(rng, n_items, size, a=1.3):
    """Skewed picks in [0, n_items): a few heavy hitters, a long tail."""
    ranks = np.arange(1, n_items + 1, dtype=np.float64)
    p = ranks ** -a
    return rng.choice(n_items, size=size, p=p / p.sum())


def _listings(rng, docs, n, first_id, employers, locations):
    out = []
    emp = _zipf_pick(rng, len(employers), n)
    loc = _zipf_pick(rng, len(locations), n)
    for i in range(n):
        rid = first_id + i
        doc = docs[int(rng.integers(0, len(docs)))]
        skills = [SKILLS[k] for k in
                  rng.choice(len(SKILLS), int(rng.integers(0, 6)), replace=False)]
        desc = doc + (". Skills: " + ", ".join(skills) if skills else "")
        name = employers[emp[i]]
        variant = int(rng.integers(0, 3))          # case/whitespace variants
        name = [name, name.upper(), f" {name.title()} "][variant]
        city, state = locations[loc[i]]
        when = NOW - timedelta(hours=int(rng.integers(1, 24 * DAYS)))
        rel = int(rng.integers(0, 4))
        posted = [f"{max((NOW - when).days, 1)} days ago",
                  f"{int(rng.integers(1, 24))} hours ago", "yesterday",
                  f"{int(rng.integers(2, DAYS))} days ago"][rel]
        highlights = None if rng.random() < 0.15 else {
            k: [BULLETS[b] for b in rng.choice(len(BULLETS), 2, replace=False)]
            for k in ("Qualifications", "Responsibilities", "Benefits")}
        rec = {
            # The requisition id keeps natural keys unique per listing.
            "job_title": f"{LEVELS[int(rng.integers(0, 5))]}"
                         f"{TITLES[int(rng.integers(0, len(TITLES)))]} (R-{rid})",
            "employer_name": None if rng.random() < 0.03 else name,
            "job_publisher": PUBLISHERS[int(_zipf_pick(rng, len(PUBLISHERS), 1)[0])],
            "job_employment_type": None if rng.random() < 0.04 else
                EMPLOYMENT[int(rng.integers(0, len(EMPLOYMENT)))],
            "job_description": desc,
            "job_is_remote": None if rng.random() < 0.05 else bool(rng.random() < 0.3),
            "job_posted_at": posted,
            "job_posted_at_datetime_utc": None if rng.random() < 0.1 else
                when.strftime("%Y-%m-%dT%H:00:00.000Z"),
            "job_location": None if rng.random() < 0.03 else f"{city}, {state}",
            "job_city": city,
            "job_state": state,
            "job_country": "US",
            "job_highlights": highlights,
        }
        if rec["job_location"] is None:
            rec["job_city"] = rec["job_state"] = rec["job_country"] = None
        out.append(rec)
    return out


def _write_jsonl(path, recs):
    with open(path, "w", encoding="utf-8") as f:
        for r in recs:
            f.write(json.dumps(r, ensure_ascii=False, separators=(",", ":")))
            f.write("\n")


def _posted_date(r):
    """The date the star's date dimension derives for a record: the
    explicit UTC stamp, else the relative phrase against the clock
    ("N hours/days ago"; anything without a number is NULL)."""
    if r["job_posted_at_datetime_utc"]:
        return r["job_posted_at_datetime_utc"][:10]
    s = r["job_posted_at"].strip().lower()
    digits = "".join(ch for ch in s if ch.isdigit())
    if not digits:
        return None
    n = int(digits)
    if "hour" in s:
        return (NOW - timedelta(hours=n)).strftime("%Y-%m-%d")
    if "day" in s:
        return (NOW - timedelta(days=n)).strftime("%Y-%m-%d")
    return None


def tally(recs):
    """Expected star table row counts for a batch feed, computed from
    the records alone (the engine's semantics restated in Python)."""
    def norm_set(key, f):
        return {f(r[key].strip()) for r in recs if r[key] is not None}
    skills = [{s for s in SKILLS if s in r["job_description"].lower()}
              for r in recs]
    return {
        "dim_company": len(norm_set("employer_name", str.upper)),
        "dim_publisher": len(norm_set("job_publisher", _initcap)),
        "dim_employment_type": len(norm_set("job_employment_type", _initcap)),
        "dim_location": len({r["job_location"] for r in recs
                             if r["job_location"] is not None}),
        "dim_date": len({d for d in map(_posted_date, recs) if d}),
        "dim_job_details": len(recs),
        "dim_skill": len(set().union(*skills)) if skills else 0,
        "fact_job_postings": len(recs),
        "bridge_job_skill": sum(len(s) for s in skills),
    }


def make_jobs(out_dir, docs, seed, n_batch, n_incr, incr_batches, new_share):
    """Raw feed + micro-batch files + manifest (tally, key mix)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_emp = max(n_batch // 25, 20)
    employers = [f"{w1} {w2} {suffix}".lower() for w1, w2, suffix in zip(
        rng.choice(DOC_WORDS[:-3], n_emp * 2), rng.choice(DOC_WORDS[:-3], n_emp * 2),
        rng.choice(["corp", "llc", "inc", "labs", "group"], n_emp * 2))]
    employers = list(dict.fromkeys(employers))[: n_emp * 2]
    cities = [f"{w.title()}ville" for w in DOC_WORDS[:-3]] + \
             [f"Port {w.title()}" for w in DOC_WORDS[:-3]]
    locations = [(c, s) for c in cities for s in STATES]
    rng.shuffle(locations)
    # The batch feed draws from the first half of the key spaces; the
    # incremental batches draw seen keys from that half and new keys
    # from the unseen second half, at `new_share`.
    half_e, half_l = len(employers) // 2, len(locations) // 2
    batch = _listings(rng, docs, n_batch, 0, employers[:half_e],
                      locations[:half_l])
    _write_jsonl(f"{out_dir}/raw_jobs.json", batch)
    os.makedirs(f"{out_dir}/incr", exist_ok=True)
    per = n_incr // incr_batches
    n_new, fed = 0, []
    for b in range(incr_batches):
        k_new = int(round(per * new_share))
        recs = (_listings(rng, docs, per - k_new, n_batch + b * per,
                          employers[:half_e], locations[:half_l]) +
                _listings(rng, docs, k_new, n_batch + b * per + per - k_new,
                          employers[half_e:], locations[half_l:]))
        for r in recs:        # streamed dim keys are never null
            r["employer_name"] = r["employer_name"] or "unknown employer"
            r["job_employment_type"] = r["job_employment_type"] or "Full-time"
        n_new += k_new
        fed += recs
        _write_jsonl(f"{out_dir}/incr/batch_{b:03d}.json", recs)
    manifest = {
        "seed": seed, "batch_rows": n_batch,
        "batch_bytes": os.path.getsize(f"{out_dir}/raw_jobs.json"),
        "incr_batches": incr_batches, "incr_rows": per * incr_batches,
        "incr_new_key_share": n_new / max(per * incr_batches, 1),
        "now": NOW_SQL, "expected": tally(batch),
        # The streamed batches upsert four dimensions of the same star.
        "expected_after_incr": dict(tally(batch), **{
            k: v for k, v in tally(batch + fed).items()
            if k in ("dim_company", "dim_publisher", "dim_employment_type",
                     "dim_location")}),
    }
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
