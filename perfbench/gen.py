"""Seeded input generators for the benchmark.

`tables` writes the ten star-schema/text/vector tables the batch queries
read (the shapes and value ranges of the engine's test tables, scaled by
`sf`). `pipeline` writes the ad-event JSON streams and the document
corpus the five jobs read, and returns the counts and uuid hashes the
jobs' outputs must match. Nothing here imports or runs the engine, so
the expected numbers do not depend on the program under test.
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _write(dirpath, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dirpath, name + ".parquet"),
                   version="2.6")


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def tables(dirpath, sf, seed=42):
    """Write region … embeddings at scale factor `sf` into `dirpath`."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    _write(dirpath, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], s)})
    _write(dirpath, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n_cust = int(150000 * sf)
    _write(dirpath, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust), s)})
    n_supp = int(10000 * sf)
    _write(dirpath, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    n_part = int(200000 * sf)
    keys = np.arange(n_part)
    _write(dirpath, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 2), f64)})
    n_ord = int(1500000 * sf)
    _write(dirpath, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord), ts),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord), s)})
    n_li = int(6000000 * sf)
    _write(dirpath, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_li), ts)})
    n_ev = int(1000000 * sf)
    month_us = 30 * 86400 * 10**6
    offs = np.sort(rng.integers(0, month_us, n_ev))
    _write(dirpath, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, int(15000 * sf), n_ev), i64),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = docs_text(rng, int(50000 * sf))
    n_doc = len(texts)
    _write(dirpath, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], n_doc,
                                    p=[0.41, 0.15, 0.15, 0.15, 0.14]), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    n_emb = min(int(50000 * sf), 2000)
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(dirpath, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def docs_text(rng, n):
    """`n` random-word documents; 5% are a copy of an earlier one plus
    the word `dup` (near-duplicates) and 0.16% are exact copies."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.0516:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    return texts


def _uuid(rng):
    h = "%032x" % int.from_bytes(rng.bytes(16), "big")
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def uuid_hash(uuids):
    """Order-independent hash: the sum of the first 60 bits of each
    uuid's md5, as a decimal string (the JVM side computes the same sum
    with Spark's md5/conv)."""
    return str(sum(int(hashlib.md5(u.encode()).hexdigest()[:15], 16)
                   for u in uuids))


class EventStream:
    """Ad events in the reference's JSON shape with known defects:
    missing fields, malformed `date`s, late event times and, for the
    lenient twins only, corrupt lines."""

    T0_MS = 1709287200000  # 2024-03-01T10:00:00Z

    def __init__(self, rng):
        self.rng = rng
        self.uuids = []
        self.error_bucket = 0
        self.corrupt = 0

    def event(self, minute):
        rng = self.rng
        ts = self.T0_MS + minute * 60000 + int(rng.integers(0, 60000))
        u = _uuid(rng)
        self.uuids.append(u)
        e = {"uuid": u,
             "date": dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc)
             .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
             "timestamp": ts, "ad_type": int(rng.integers(1000, 2000)),
             "ad_type_name": "".join(chr(97 + c) for c in rng.integers(0, 26, 5))}
        r = rng.random()
        if r < 0.02:                       # missing fields
            del e["ad_type_name"]
            if r < 0.01:
                del e["date"]
                self.error_bucket += 1
        elif r < 0.04:                     # malformed date
            e["date"] = "T" * int(rng.integers(1, 4))
            self.error_bucket += 1
        return json.dumps(e, separators=(",", ":"))

    def lines(self, n, minute, late=None):
        """`n` events in `minute`; with a `late` (first, last) minute
        range, 3% carry an event time in one of those earlier minutes,
        whose partitions are already committed."""
        out = []
        for _ in range(n):
            m = minute
            if late and late[0] <= late[1] and self.rng.random() < 0.03:
                m = int(self.rng.integers(late[0], late[1] + 1))
            out.append(self.event(m))
        return out

    def corrupt_lines(self, n):
        self.corrupt += n
        return [f"#corrupt {self.rng.integers(0, 10**9)} {{" for _ in range(n)]


def _publish(path, lines):
    """Write a file atomically: a temp name, then rename."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def pipeline(work, seed, backlog_files, backlog_events, waves, wave_events,
             curation_docs, stream_docs, stream_files):
    """Write every input of the pipelines workload under `work` and
    return what the jobs must deliver."""
    rng = np.random.default_rng(seed)
    ev = EventStream(rng)
    twins = ("text", "parquet", "hive")

    def twin_files(base, chunks):
        # chunks: list of (name, event lines, corrupt line count)
        for j in twins:
            os.makedirs(os.path.join(work, base, j), exist_ok=True)
        for name, lines, n_bad in chunks:
            bad = ev.corrupt_lines(n_bad) if n_bad else []
            for j in twins:
                body = lines if j == "parquet" else lines + bad
                _publish(os.path.join(work, base, j, name), body)

    per_file = backlog_events // backlog_files
    backlog = [(f"backlog_{i:03d}.json", ev.lines(per_file, i % 2),
                max(1, per_file // 100)) for i in range(backlog_files)]
    twin_files("in", backlog)
    backlog_uuids = list(ev.uuids)
    backlog_corrupt = ev.corrupt
    # the copies a traced run drains untraced
    for copy in ("in_ref", "in_ref2"):
        for j in twins:
            os.makedirs(os.path.join(work, copy, j), exist_ok=True)
            for name, _, _ in backlog:
                shutil.copy(os.path.join(work, "in", j, name), os.path.join(work, copy, j, name))
    # waves: the first half in event-time minute 2, the rest in minute 3,
    # where late events fall back into minute 2
    half = (waves + 1) // 2
    wave_chunks = [(f"wave_{k:05d}.json",
                    ev.lines(wave_events, 2 + k // half, late=(2, 1 + k // half)),
                    max(1, wave_events // 100)) for k in range(waves)]
    twin_files("pending", wave_chunks)
    for j in twins:
        os.makedirs(os.path.join(work, "in_w", j), exist_ok=True)
    n_events = len(ev.uuids)
    expected = {
        "text": {"lines": n_events + ev.corrupt, "rows": n_events,
                 "distinct": n_events, "hash": uuid_hash(ev.uuids)},
        "parquet": {"rows": n_events, "distinct": n_events,
                    "hash": uuid_hash(ev.uuids), "error_bucket": ev.error_bucket},
        "hive": {"rows": n_events, "distinct": n_events, "hash": uuid_hash(ev.uuids)},
        "hive_dropped": ev.corrupt,
        # rows each twin delivers from the backlog: the text job keeps
        # corrupt lines, the Hive job's lenient parse drops them
        "backlog_rows": {"text": len(backlog_uuids) + backlog_corrupt,
                         "parquet": len(backlog_uuids), "hive": len(backlog_uuids)},
        "input_bytes": sum(os.path.getsize(os.path.join(d, f))
                           for j in twins
                           for d in (os.path.join(work, "in", j),
                                     os.path.join(work, "pending", j))
                           for f in os.listdir(d)),
    }

    # CurationJob: a documents table plus an eval set that shares some
    # of its texts (the decontamination stage must remove those docs)
    texts = docs_text(rng, curation_docs)
    os.makedirs(os.path.join(work, "docs"), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], len(texts),
                                    p=[0.41, 0.15, 0.15, 0.15, 0.14]), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(len(texts))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(work, "docs", "part-0.parquet"))
    planted = sorted(rng.choice(len(texts), max(1, len(texts) // 50), replace=False))
    eval_texts = [texts[i] for i in planted] + [_text(rng, 40) for _ in range(20)]
    os.makedirs(os.path.join(work, "bench_eval"), exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(len(eval_texts)), pa.int64()),
                             "text": pa.array(eval_texts, pa.string())}),
                   os.path.join(work, "bench_eval", "part-0.parquet"))
    expected["curation_input_bytes"] = os.path.getsize(
        os.path.join(work, "docs", "part-0.parquet"))

    # StreamCurationJob: a corpus with planted exact dups, near-dups and
    # docs already in the history slice, split into files
    history = [_text(rng, int(rng.integers(10, 101))) for _ in range(max(10, stream_docs // 4))]
    corpus, dup_pairs, from_history = [], [], []
    for i in range(stream_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            j = int(rng.integers(0, i))
            corpus.append(corpus[j])
            dup_pairs.append((j, i))
        elif i > 0 and r < 0.10:
            corpus.append(corpus[int(rng.integers(0, i))] + " dup")
        elif r < 0.15:
            corpus.append(history[int(rng.integers(0, len(history)))])
            from_history.append(i)
        else:
            corpus.append(_text(rng, int(rng.integers(10, 101))))
    sdir = os.path.join(work, "stream")
    os.makedirs(os.path.join(sdir, "in"), exist_ok=True)
    os.makedirs(os.path.join(sdir, "history_docs"), exist_ok=True)
    pq.write_table(pa.table({"text": pa.array(history, pa.string())}),
                   os.path.join(sdir, "history_docs", "part-0.parquet"))
    t0 = np.datetime64("2024-03-01T10:00:00", "us")
    per = -(-stream_docs // stream_files)
    for f in range(stream_files):
        ids = np.arange(f * per, min(stream_docs, (f + 1) * per))
        tbl = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "text": pa.array([corpus[i] for i in ids], pa.string()),
            "event_time": pa.array(t0 + (ids * 100).astype("timedelta64[ms]"),
                                   pa.timestamp("us", tz="UTC"))})
        tmp = os.path.join(sdir, "in", f".part-{f:03d}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(sdir, "in", f"part-{f:03d}.parquet"))
    expected["stream"] = {"docs": stream_docs, "dup_pairs": dup_pairs,
                          "from_history": from_history}
    return expected
