"""Seeded input generator for the benchmark.

Writes the ten fixture tables the registry queries read (the schemas of
FIXTURES.md section B) as parquet, drawn from one seed, plus the page-log
segments the `ingest` workload publishes.  The same seed always gives the
same bytes.  Nothing here reads the repository's own test data: the
program under test only ever sees what this module generates.

Row counts follow the fixture family: `sf` scales the fact tables
linearly (lineitem = 6M x sf), documents and embeddings keep their
floors of 500 rows unless a document count is given.  `doc_copies > 1`
replaces `documents` by the near-duplicate expansion of the dedup scale
probe (`tools/scale_probe_gen.py`): every base document yields
`doc_copies` variants.  Variant k changes every (k+1)-th token, so only
variants with a large k keep enough word trigrams of the original to
pass a Jaccard threshold of 0.5.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

US_PER_DAY = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    lo, hi = _us(first) // US_PER_DAY, _us(last) // US_PER_DAY
    return rng.integers(lo, hi + 1, n) * US_PER_DAY


def variant(text, k):
    """k-th near-duplicate of `text`: variant 0 is the original; variant k
    suffixes every (k+1)-th token with `~k` and appends a two-token tail."""
    if k == 0:
        return text
    toks = text.split(" ")
    toks = [t + "~" + str(k) if i % (k + 1) == 0 else t for i, t in enumerate(toks)]
    return " ".join(toks) + f" vtail{k} probe{k}"


def documents(rng, n, copies=1):
    """`n` documents whose shape does not depend on the seed: lengths
    spread evenly over 10-100 tokens, exactly one in twenty a repeat of
    an earlier original with a marker token (the near-duplicate pairs the
    dedup queries look for), languages in fixed shares.  The seed picks
    the tokens, which documents repeat which, and the order."""
    lengths = rng.permutation(np.linspace(10, 100, n).round().astype(int))
    repeats = set((rng.permutation(n - 1)[: n // 20] + 1).tolist())
    texts, originals = [], []
    for i in range(n):
        if i in repeats and originals:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            toks = rng.integers(0, len(VOCAB), int(lengths[i]))
            texts.append(" ".join(VOCAB[t] for t in toks))
            originals.append(i)
    counts = np.round(np.array(LANG_P) * n).astype(int)
    counts[0] += n - counts.sum()
    langs = rng.permutation(np.repeat(LANGS, counts))
    if copies > 1:
        texts = [variant(t, k) for t in texts for k in range(copies)]
        langs = np.repeat(langs, copies)
    m = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(m)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(seed, sf, n_docs=None, doc_copies=1):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_docs or max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line))})
    t0 = _us(dt.datetime(2024, 1, 1))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, n_ev))),
        "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    out["documents"] = documents(rng, n_docs, doc_copies)
    emb = rng.normal(size=(n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(dest, seed, sf, n_docs=None, doc_copies=1):
    os.makedirs(dest, exist_ok=True)
    for name, t in tables(seed, sf, n_docs, doc_copies).items():
        pq.write_table(t, os.path.join(dest, f"{name}.parquet"))


# ---------------------------------------------------------------- ingest

# The traffic shape of the repository's own page-log corpus
# (`graft.StreamBench.pageLogLines`): one event in three is a session
# entry (`last_page_id` null), and event time advances as in the events
# fixture it replays at sf 0.1, 100,000 events over 30 days.
ENTRY_SHARE = 1 / 3
EVENT_STEP_MS = 30 * 86_400_000 // 100_000
# Device popularity: Zipf-like with exponent 0.8, inside the 0.64-0.83
# that Breslau et al. measured for web request popularity ("Web Caching
# and Zipf-like Distributions", INFOCOM 1999).
ZIPF_S = 0.8


def zipf_ids(rng, n, pool, s=ZIPF_S):
    """`n` device ranks in [0, pool) drawn from a Zipf law of exponent `s`
    (rank 0 most frequent), by inverse transform over the finite pool."""
    w = 1.0 / np.arange(1, pool + 1) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), pool - 1)


def page_log(seed, n_segments, per_segment, pool, day0_ms=1_704_067_200_000):
    """Page-log segments for the ingest workload: a list of segments, each
    a list of (mid, ts_ms, is_entry) events.  Event time rises strictly by
    EVENT_STEP_MS per event from `day0_ms`, so a run crosses day
    boundaries and a device's first visit of a day is unambiguous.  A
    share ENTRY_SHARE of the events are session entries.  Device ids
    follow a Zipf law over `pool` devices."""
    rng = np.random.default_rng(seed)
    n = n_segments * per_segment
    mids = zipf_ids(rng, n, pool)
    # shuffle the rank -> id map so hot devices are spread over buckets
    perm = rng.permutation(pool)
    ts = day0_ms + np.arange(n) * EVENT_STEP_MS
    entry = rng.random(n) < ENTRY_SHARE
    segs = []
    for s in range(n_segments):
        lo = s * per_segment
        segs.append([(f"m{perm[mids[i]]}", int(ts[i]), bool(entry[i]))
                     for i in range(lo, lo + per_segment)])
    return segs


def page_log_line(mid, ts, entry, page="home"):
    last = "null" if entry else '"prev"'
    return (f'{{"mid":"{mid}","page_id":"{page}","last_page_id":{last},'
            f'"ts":{ts}}}')


def first_visits(segments):
    """Batch reference for the `uv_dim` path: for every (device, day) the
    earliest session-entry event; the dim table keeps, per device, the
    latest such first visit (its LWW version column is `ts`)."""
    first = {}
    for seg in segments:
        for mid, ts, entry in seg:
            if not entry:
                continue
            key = (mid, ts // 86_400_000)
            if key not in first or ts < first[key]:
                first[key] = ts
    best = {}
    for (mid, _), ts in first.items():
        if ts > best.get(mid, -1):
            best[mid] = ts
    return best
