"""Seeded input generator for the perfbench workloads.

Every input a run feeds the engine comes from here, derived from one seed:

* the star schema + ``events`` + ``documents`` + ``embeddings`` tables,
  one parquet file each, in the layout and value ranges of the harness
  tables the queries are written against (see TESTDATA.md / FIXTURES.md);
* monthly citibike trip CSVs (``Schemas.trip``) for the ingest phase;
* the ``stream_mixed`` inputs: the index seed corpus, admission batches
  (held-out vectors plus planted near-twins), ``topK`` query panels, the
  CDC base snapshot and its change batches.

The same seed gives byte-identical files: numpy's PCG64 stream drives every
value, and pyarrow writes parquet without timestamps or random file names.

Usage: python3 perfbench/gen.py <seed> <out_dir>
"""
import glob
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes: the harness sf0.01 shape (lineitem 60k rows).
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, users=150, documents=500,
             embeddings=500)
DIM = 64
VOCAB = ("value hash batch sort data big filter row the query stream fast "
         "spark line small customer group key agg scan slow table part a "
         "merge window order column join vector").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = ["blue", "hot", "small", "old", "red", "cold", "new", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]

# Trip CSVs for the ingest phase: consecutive months starting 2024-01.
TRIP_MONTHS = 3
TRIPS_PER_MONTH = 8000
STATIONS = 60

# stream_mixed: index seed corpus, admission and CDC batches, query panels.
STREAM = dict(seed_vectors=100, admit_batches=2, admit_fresh=52,
              admit_twins=4, panels=2, panel_queries=8, cdc_batches=2,
              cdc_events=200)

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131   # days from 1970-01-01 to 1995-01-01
EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, lo, hi):
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype(np.int64)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng):
    s = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
    n = s["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n)]})
    n = s["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = s["part"]
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    types = np.array(["SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD",
                      "LARGE"])
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)})
    n = s["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s["customer"], n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _ts(_days(rng, n, EPOCH_1995, EPOCH_1995 + 2403)),
        "o_orderpriority": prio[rng.integers(0, 5, n)]})
    n = s["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, s["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, s["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_days(rng, n, EPOCH_1995 + 1, EPOCH_1995 + 2499))})
    return t


def events_table(rng, n, first_id=0, users=None, start_us=None, span_days=30):
    users = users or SIZES["users"]
    start = EPOCH_2024 * US_PER_DAY if start_us is None else start_us
    ts = np.sort(rng.integers(0, span_days * US_PER_DAY, n)) + start
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts(ts.astype(np.int64)),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.exponential(40.0, n), 490) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents_table(rng):
    n = SIZES["documents"]
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def unit_vectors(rng, n):
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(ids, vecs, labels):
    return pa.table({
        "vec_id": np.asarray(ids, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": np.asarray(labels, dtype=np.int32)})


def twin_of(rng, v):
    """A near-twin of unit vector ``v``: cosine ~0.999, far above the 0.92
    admission threshold, so the index must reject it."""
    t = v + rng.standard_normal(DIM).astype(np.float32) * np.float32(0.005)
    return (t / np.linalg.norm(t)).astype(np.float32)


def trip_csvs(rng, out):
    """Monthly ``JC-yyyyMM-citibike-tripdata.csv`` files under
    ``out/trips/<yyyyMM>/``; returns {yyyyMM: row count}."""
    counts = {}
    lat = np.round(40.70 + rng.uniform(0, 0.08, STATIONS), 6)
    lng = np.round(-74.05 + rng.uniform(0, 0.06, STATIONS), 6)
    header = ("ride_id,rideable_type,started_at,ended_at,start_station_name,"
              "start_station_id,end_station_name,end_station_id,start_lat,"
              "start_lng,end_lat,end_lng,member_casual\n")
    for m in range(TRIP_MONTHS):
        month = f"2024{m + 1:02d}"
        n = TRIPS_PER_MONTH
        start_day = np.datetime64(f"2024-{m + 1:02d}-01")
        secs = np.sort(rng.integers(0, 28 * 86400, n))
        dur = rng.integers(60, 3600, n)
        st = (start_day + secs.astype("timedelta64[s]")).astype(str)
        en = (start_day + (secs + dur).astype("timedelta64[s]")).astype(str)
        a = rng.integers(0, STATIONS, n)
        b = rng.integers(0, STATIONS, n)
        ids = rng.integers(0, 2 ** 63, n, dtype=np.int64)
        kind = np.array(["electric_bike", "classic_bike"])[rng.integers(0, 2, n)]
        who = np.array(["member", "casual"])[rng.integers(0, 2, n)]
        lines = [header]
        for i in range(n):
            lines.append(
                f"{ids[i]:016X},{kind[i]},{st[i].replace('T', ' ')},"
                f"{en[i].replace('T', ' ')},Station {a[i]},JC{a[i]:03d},"
                f"Station {b[i]},JC{b[i]:03d},{lat[a[i]]},{lng[a[i]]},"
                f"{lat[b[i]]},{lng[b[i]]},{who[i]}\n")
        d = os.path.join(out, "trips", month)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"JC-{month}-citibike-tripdata.csv"), "w") as f:
            f.write("".join(lines))
        counts[month] = n
    return counts


def stream_inputs(rng, out, customer):
    """The ``stream_mixed`` inputs under ``out/stream/``. The admission
    batches hold just over one seed corpus of fresh vectors in total, so
    the corpus doubles exactly once per run."""
    s = STREAM
    d = os.path.join(out, "stream")
    os.makedirs(d, exist_ok=True)
    n_seed = s["seed_vectors"]
    n_fresh = s["admit_batches"] * s["admit_fresh"]
    base = unit_vectors(rng, n_seed + n_fresh)
    labels = rng.integers(0, 10, n_seed + n_fresh)
    ids = np.arange(1_000_000, 1_000_000 + n_seed + n_fresh)
    _write(embeddings_table(ids[:n_seed], base[:n_seed], labels[:n_seed]),
           os.path.join(d, "seed.parquet"))
    corpus = list(range(n_seed))
    twin_id = 2_000_000
    for b in range(s["admit_batches"]):
        lo = n_seed + b * s["admit_fresh"]
        fresh = list(range(lo, lo + s["admit_fresh"]))
        srcs = rng.choice(corpus, s["admit_twins"], replace=False)
        twins = np.stack([twin_of(rng, base[i]) for i in srcs])
        vecs = np.concatenate([base[fresh], twins])
        bid = np.concatenate([ids[fresh], np.arange(twin_id, twin_id + len(srcs))])
        twin_id += len(srcs)
        _write(embeddings_table(bid, vecs, np.concatenate(
            [labels[fresh], np.zeros(len(srcs), dtype=np.int64)])),
            os.path.join(d, f"admit_{b}.parquet"))
        corpus += fresh
    # query panels: perturbed corpus members (the vectors a search session
    # asks about), so every query has real neighbours to recall
    for p in range(s["panels"]):
        srcs = rng.choice(n_seed, s["panel_queries"], replace=False)
        q = np.stack([twin_of(rng, base[i]) for i in srcs])
        qid = np.arange(3_000_000 + p * 100, 3_000_000 + p * 100 + len(srcs))
        _write(embeddings_table(qid, q, np.zeros(len(srcs))),
               os.path.join(d, f"panel_{p}.parquet"))
    _write(pa.table({"cust_key": customer.column("c_custkey"),
                     "balance": customer.column("c_acctbal")}),
           os.path.join(d, "cdc_base.parquet"))
    users = customer.num_rows + 50  # some changes insert unseen keys
    for b in range(s["cdc_batches"]):
        _write(events_table(rng, s["cdc_events"], first_id=b * s["cdc_events"],
                            users=users,
                            start_us=(EPOCH_2024 + b) * US_PER_DAY, span_days=1),
               os.path.join(d, f"cdc_{b}.parquet"))


def tree_hash(d):
    """SHA-256 over the relative paths and bytes of every file under ``d``."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(d, "**"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(seed, out):
    """Write every input for ``seed`` under ``out``; returns the manifest."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out, exist_ok=True)
    tables = star_tables(rng)
    tables["events"] = events_table(rng, SIZES["events"])
    tables["documents"] = documents_table(rng)
    vecs = unit_vectors(rng, SIZES["embeddings"])
    tables["embeddings"] = embeddings_table(
        np.arange(SIZES["embeddings"]), vecs,
        rng.integers(0, 10, SIZES["embeddings"]))
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
    manifest = {"seed": seed, "trip_counts": trip_csvs(rng, out)}
    stream_inputs(rng, out, tables["customer"])
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
