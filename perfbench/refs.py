"""Correctness references and the digests they are compared by.

A table's digest is the canonical value hash of the repository's oracle
compare (`tools/oracle_check.py`): columns sorted by name, every value
rendered canonically, rows sorted, SHA-256 of the lines.  References come
from DuckDB running the oracle SQL kept in `oracle_sql.json`, over the
same generated parquet the engine read.
"""
import glob
import hashlib
import json
import os

import duckdb

from gen import TABLES

HERE = os.path.dirname(os.path.abspath(__file__))


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def digest(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return {"cols": sorted(cols), "rows": len(rows), "hash": h.hexdigest()[:16]}


def oracle_sql():
    with open(os.path.join(HERE, "oracle_sql.json")) as f:
        return json.load(f)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# Queries whose oracle SQL is too slow at the benchmark's scale get an
# independent reference: connected components (x28) a union-find
# over the near-duplicate pairs (the x02 oracle's rows), BPE training a
# direct implementation of its three greedy merge rounds.
CC_QUERIES = ("x28_dedup_clusters",)
PAIRS_QUERY = "x02_minhash_lsh_neardup"
BPE_QUERY = "x83_bpe_train"


def components(edges):
    """(doc_id, cluster_rep) for every node of `edges`, the representative
    being the smallest id of the node's connected component."""
    parent = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent]


def bpe_rounds(texts, rounds=3):
    """Rows of x83: per round the most frequent adjacent symbol pair (ties
    by symbols), merged greedily left to right in every word."""
    words = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] = words.get(w, 0) + 1
    seqs = {w: list(w) for w in words}
    out = []
    for r in range(1, rounds + 1):
        counts = {}
        for w, syms in seqs.items():
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + words[w]
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in seqs.items():
            acc = [syms[0]]
            for s in syms[1:]:
                if acc[-1] == a and s == b:
                    acc[-1] = a + b
                else:
                    acc.append(s)
            seqs[w] = acc
        vocab = len({s for syms in seqs.values() for s in syms})
        corpus = sum(words[w] * len(syms) for w, syms in seqs.items())
        out.append((r, a, b, a + b, cnt, vocab, corpus))
    return out


def query_refs(data_dir, names):
    """Reference digests of the named registry queries over `data_dir`."""
    sql = oracle_sql()
    con = connect(data_dir)
    out, rows_of = {}, {}
    for name in names:
        if name in CC_QUERIES:
            if PAIRS_QUERY not in rows_of:
                rows_of[PAIRS_QUERY] = con.execute(sql[PAIRS_QUERY]).fetchall()
            edges = [(a, b) for a, b, _ in rows_of[PAIRS_QUERY]]
            out[name] = digest(components(edges), ["doc_id", "cluster_rep"])
        elif name == BPE_QUERY:
            texts = [t for (t,) in con.execute("SELECT text FROM documents").fetchall()]
            out[name] = digest(bpe_rounds(texts), [
                "round", "sym_a", "sym_b", "merged", "pair_count",
                "vocab_symbols_after", "corpus_symbols_after"])
        else:
            rel = con.execute(sql[name])
            cols = [d[0] for d in rel.description]
            out[name] = digest(rel.fetchall(), cols)
    return out


def output_digest(out_dir):
    """Digest of a parquet directory the engine wrote."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    con = duckdb.connect()
    if not files:
        return None
    rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
    cols = [d[0] for d in rel.description]
    return digest(rel.fetchall(), cols)
