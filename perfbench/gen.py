"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: it
draws from one ``numpy.random.default_rng(seed)`` stream in a fixed
order and writes with fixed writer settings, so the same seed gives
byte-identical files. Each returns a small manifest (paths, sizes and
the planted ground truth the correctness checks compare against).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Writer settings pinned so output bytes depend only on the data.
_PQ = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, **_PQ)


# --- apps, HW1 and HW2: planted clusters + far outliers (FIXTURES.md §1) ----

def points(out_dir: str, seed: int, n: int, n_outliers: int = 100,
           n_clusters: int = 9, sigma: float = 1.0) -> dict:
    """``n`` points as ``x,y`` CSV: 9 Gaussian clusters (truncated at
    3σ) on a 3×3 grid (spacing 40σ) plus exactly ``n_outliers`` isolated far points on a
    ring of radius ~2000σ, ≥ 40σ apart.

    Cluster points are rounded to 3 decimals and outliers to whole
    units, both exactly representable after the apps' float32 parse to
    well within the grids' resolution."""
    rng = np.random.default_rng(seed)
    n_in = n - n_outliers
    side = int(round(np.sqrt(n_clusters)))
    centers = np.array([(40.0 * sigma * (i % side), 40.0 * sigma * (i // side))
                        for i in range(n_clusters)])
    which = rng.integers(0, n_clusters, n_in)
    # Gaussian truncated at 3σ, so no cluster point is itself isolated
    z = rng.normal(0.0, 1.0, (n_in, 2))
    far = np.flatnonzero(np.hypot(z[:, 0], z[:, 1]) > 3.0)
    while far.size:
        z[far] = rng.normal(0.0, 1.0, (far.size, 2))
        far = far[np.hypot(z[far, 0], z[far, 1]) > 3.0]
    pts = centers[which] + sigma * z
    # outliers: distinct ring slots, jittered within ±10σ
    n_slots = 2 * n_outliers
    slots = rng.permutation(n_slots)[:n_outliers]
    ang = 2 * np.pi * slots / n_slots
    r = 2000.0 * sigma + rng.uniform(-10, 10, n_outliers) * sigma
    out = np.stack([40.0 * sigma + r * np.cos(ang),
                    40.0 * sigma + r * np.sin(ang)], axis=1)
    allp = np.concatenate([np.round(pts, 3), np.round(out, 0)])
    order = rng.permutation(n)
    allp = allp[order]
    is_out = np.zeros(n, dtype=bool)
    is_out[n_in:] = True
    is_out = is_out[order]
    path = os.path.join(out_dir, "points.csv")
    np.savetxt(path, allp, fmt="%.3f", delimiter=",")
    np.save(os.path.join(out_dir, "points_outlier_mask.npy"), is_out)
    return {"path": path, "rows": n, "planted_outliers": n_outliers,
            "bytes": os.path.getsize(path)}


# --- apps, corpus pipeline: Zipf corpus, planted near-duplicate clusters ----

def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    syl = np.array(["ka", "lo", "mi", "ne", "ru", "ta", "vo", "pe", "si",
                    "du", "ga", "ho", "ji", "be", "zu", "fa"])
    words = set()
    out = []
    while len(out) < size:
        k = int(rng.integers(2, 5))
        w = "".join(syl[rng.integers(0, len(syl), k)])
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def corpus(out_dir: str, seed: int, n_docs: int, dup_frac: float = 0.15,
           vocab_size: int = 4000, n_sources: int = 4,
           min_words: int = 60, max_words: int = 120) -> dict:
    """``n_docs`` documents (doc_id, text, source, lang) as one parquet.

    Base documents draw words from a Zipf(1.1) law over a synthetic
    vocabulary. About ``dup_frac`` of all documents are planted
    near-duplicates: each cluster is a base document plus 1–2 copies,
    each copy with exactly one word replaced (3-shingle Jaccard to the
    base ≈ 0.93, between copies ≈ 0.86 — far above the pipeline's 0.7
    threshold). Doc ids are shuffled so cluster members are not
    adjacent."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, vocab_size)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks ** -1.1
    p /= p.sum()
    n_dups = int(round(n_docs * dup_frac))
    texts: list[str] = []
    clusters: list[list[int]] = []
    # copies per cluster: 1 or 2; stop when the dup budget is spent
    while n_dups > 0:
        k = min(int(rng.integers(1, 3)), n_dups)
        n_dups -= k
        clusters.append([k])
    n_base = n_docs - sum(c[0] for c in clusters)
    lengths = rng.integers(min_words, max_words + 1, n_base)
    base_words = [vocab[rng.choice(vocab_size, size=int(m), p=p)] for m in lengths]
    for ws in base_words:
        texts.append(" ".join(ws))
    members: list[list[int]] = []
    for ci, (k,) in enumerate(clusters):
        idx = [ci]  # cluster ci's base is base document ci
        ws = base_words[ci]
        for _ in range(k):
            cp = ws.copy()
            pos = int(rng.integers(0, len(cp)))
            cp[pos] = "x" + vocab[int(rng.integers(0, vocab_size))]
            idx.append(len(texts))
            texts.append(" ".join(cp))
        members.append(idx)
    perm = rng.permutation(n_docs)  # position -> doc_id
    doc_id = perm.astype(np.int64)
    src = rng.integers(0, n_sources, n_docs)
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "source": pa.array([f"src{s}" for s in src], pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
    }).sort_by("doc_id")
    path = os.path.join(out_dir, "corpus.parquet")
    _write_parquet(table, path)
    dup_clusters = [sorted(int(perm[i]) for i in m) for m in members]
    with open(os.path.join(out_dir, "corpus_truth.json"), "w") as f:
        json.dump({"clusters": dup_clusters}, f)
    return {"path": path, "rows": n_docs, "dup_clusters": len(dup_clusters),
            "dup_docs": sum(len(c) - 1 for c in dup_clusters),
            "bytes": os.path.getsize(path)}


# --- apps, HW3: "heavy" item stream (FIXTURES.md §2) ------------------------

def stream(out_dir: str, seed: int, n: int, n_files: int, n_heavy: int = 10,
           heavy_share: float = 0.075) -> dict:
    """``n`` items (seq, item) split in arrival order over ``n_files``
    parquet files: ``n_heavy`` planted items each occurring exactly
    ⌈heavy_share·n⌉ times, the rest uniform over the 32-bit domain
    above the planted ids (so no tail item can collide with a planted
    one)."""
    rng = np.random.default_rng(seed)
    heavy_ids = rng.choice(np.arange(1, 1 << 16), n_heavy, replace=False)
    per = int(np.ceil(heavy_share * n))
    tail = n - per * n_heavy
    items = np.concatenate([np.repeat(heavy_ids, per),
                            rng.integers(1 << 16, 1 << 32, tail)])
    items = items[rng.permutation(n)].astype(np.int64)
    src = os.path.join(out_dir, "stream")
    os.makedirs(src, exist_ok=True)
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for i in range(n_files):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        _write_parquet(pa.table({
            "seq": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "item": pa.array(items[lo:hi]),
        }), os.path.join(src, f"part-{i:05d}.parquet"))
    np.save(os.path.join(out_dir, "stream_items.npy"), items)
    return {"path": src, "rows": n, "files": n_files,
            "planted": sorted(int(h) for h in heavy_ids),
            "bytes": sum(os.path.getsize(os.path.join(src, f))
                         for f in os.listdir(src))}


# --- query_mix: TPC-H-ish star schema + events/documents/embeddings -----------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
              "filter", "group", "hash", "join", "key", "line", "merge", "order",
              "part", "query", "row", "scan", "slow", "small", "sort", "spark",
              "stream", "table", "the", "value", "vector", "window"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def tables(out_dir: str, seed: int, sf: float = 0.01) -> dict:
    """The star schema the query registry reads (FIXTURES.md §4
    column lists), one parquet per table, at ``sf`` (0.01 ≈ 60k
    lineitem rows). ``events.ts`` is written as TIMESTAMP(NANOS), the
    layout ``sources.tables.load_table`` converts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array(["small", "red", "blue", "green", "large", "steel", "brass", "tiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "pipe", "nut", "cog"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    odate = _days(rng, n_ord, "1995-01-01", 2404)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(_PRIOS)[rng.integers(0, 5, n_ord)])})
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(odate[lok] + np.timedelta64(1, "D")
                               * rng.integers(1, 122, n_line), pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    ts0 = np.datetime64("2024-01-01T00:00:00", "ns")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts0 + (ev_us * 1000).astype("timedelta64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(m))])
             for m in rng.integers(8, 90, n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, 5, n_doc)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})
    emb = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    for name, tab in t.items():
        _write_parquet(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {"path": out_dir, "rows": {k: v.num_rows for k, v in t.items()},
            "bytes": sum(os.path.getsize(os.path.join(out_dir, f"{k}.parquet"))
                         for k in t)}

