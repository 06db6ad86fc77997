"""Seeded input generator for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
with exactly the Arrow schema of the graded fixtures (``EXPECTED``
below; ``python3 perfbench/run.py --self-check --fixtures <dir>``
compares it with a fixture directory). The same seed always gives the
same files.

Row counts are fixed per workload (``SIZES``) and never depend on the
seed, so seeds differ only in values, not in the amount of work.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")
EXPECTED = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", TS), ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", TS)],
    "events": [("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
               ("event_type", pa.string()), ("value", pa.float64()),
               ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}

# Row counts: the graded sf0.01 fixture's (`orders` drives lineitem, 1..7
# lines each, ~4 on average), and a books corpus sized so that one pass
# stays within a few times EM's per-iteration floor.
SIZES = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "events": 10_000, "documents": 500, "embeddings": 500,
    "books": 12, "book_words": 2_000, "book_vocab": 8_000,
}
# query_mix reads every table; topic_model reads only its books corpus.
TABLES = {"query_mix": list(EXPECTED), "topic_model": []}
ZIPF_S = 1.07


def schema_of(name):
    return pa.schema(EXPECTED[name])


def _write(out, name, cols):
    table = pa.table(cols, schema=schema_of(name))
    assert table.schema.equals(schema_of(name)), name
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _zipf_p(v):
    p = 1.0 / np.arange(1, v + 1) ** ZIPF_S
    return p / p.sum()


def _words(rng, n):
    """n distinct lowercase alphabetic words of 4..12 letters."""
    cons, vows = np.array(list("bcdfghklmnprstvz")), np.array(list("aeiou"))
    seen, out = set(), []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(0, 16)] + vows[rng.integers(0, 5)]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def tpch(rng, out):
    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc, ns, npart, no = (SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    seg = np.array(["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD"])
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": seg[rng.integers(0, 5, nc)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2)})
    colors = np.array(["large", "hot", "blue", "red", "green", "small", "dim", "light"])
    nouns = np.array(["ring", "bolt", "screw", "pin", "cap", "gear", "rod", "plate"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])
    _write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 8, npart)], " "),
                              nouns[rng.integers(0, 8, npart)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, npart)],
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)})
    t0 = np.datetime64("1995-01-01", "us")
    odays = rng.integers(0, 2404, no)
    status = np.array(["O", "F", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": status[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": t0 + odays.astype("timedelta64[D]"),
        "o_orderpriority": prio[rng.integers(0, 5, no)]})
    nlines = rng.integers(1, 8, no)
    lord = np.repeat(np.arange(no), nlines)
    nli = len(lord)
    lnum = np.arange(nli) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1
    ship = np.repeat(odays, nlines) + rng.integers(1, 121, nli)
    _write(out, "lineitem", {
        "l_orderkey": lord.astype(np.int64),
        "l_partkey": rng.integers(0, npart, nli).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nli).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, nli).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nli), 2),
        "l_discount": np.round(rng.integers(0, 11, nli) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nli) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nli)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nli)],
        "l_shipdate": t0 + ship.astype("timedelta64[D]")})


def events(rng, out):
    """In event-time order, like the fixtures (no late or out-of-order rows)."""
    n = SIZES["events"]
    e0 = np.datetime64("2024-01-01", "us")
    ts = np.sort(e0 + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"))
    etype = np.array(["click", "view", "purchase", "signup", "error"])
    _write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": etype[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, out):
    """Zipfian token draws, 1% exact and 1% one-token near duplicates."""
    n, v = SIZES["documents"], 30_000
    p = _zipf_p(v)
    vocab = _words(rng, v)
    lens = rng.integers(10, 101, n)
    offs = np.concatenate([[0], np.cumsum(lens)])
    toks = vocab[rng.choice(v, offs[-1], p=p)]
    texts = [" ".join(toks[offs[i]:offs[i + 1]]) for i in range(n)]
    for _ in range(n // 100):
        src = int(rng.integers(0, n))
        texts[int(rng.integers(0, n))] = texts[src]
        words = texts[src].split()
        words[int(rng.integers(0, len(words)))] = vocab[rng.choice(v, p=p)]
        texts[int(rng.integers(0, n))] = " ".join(words)
    langs = np.array(["en", "zh", "es", "fr", "de"])
    _write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, out):
    """64-dim unit vectors around 10 cluster centres."""
    n = SIZES["embeddings"]
    centres = rng.normal(0, 1, (10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    lab = rng.integers(0, 10, n)
    emb = centres[lab] + rng.normal(0, 0.25, (n, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": lab.astype(np.int32)})


def books(rng, out):
    """A directory of whole-file books plus a one-line stopword file.

    Words are drawn ~1/rank^1.07 over a vocabulary of alphabetic words,
    in sentences of 6..24 words, like an English corpus."""
    v, nb, nw = SIZES["book_vocab"], SIZES["books"], SIZES["book_words"]
    vocab = _words(rng, v)
    p = _zipf_p(v)
    bdir = os.path.join(out, "books")
    os.makedirs(bdir)
    for b in range(nb):
        toks = vocab[rng.choice(v, nw, p=p)]
        cuts = np.cumsum(rng.integers(6, 25, nw // 6 + 1))
        sentences = np.split(toks, cuts[cuts < nw])
        text = "\n".join(" ".join(s).capitalize() + "." for s in sentences if len(s))
        with open(os.path.join(bdir, f"book_{b:03d}.txt"), "w") as f:
            f.write(text + "\n")
    with open(os.path.join(out, "stopwords.txt"), "w") as f:
        f.write(",".join(vocab[:40]) + "\n")


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out` (atomically)."""
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, sorted(TABLES).index(workload)])
    tables = TABLES[workload]
    if "lineitem" in tables:
        tpch(rng, tmp)
    if "events" in tables:
        events(rng, tmp)
    if "documents" in tables:
        documents(rng, tmp)
    if "embeddings" in tables:
        embeddings(rng, tmp)
    if workload == "topic_model":
        books(rng, tmp)
    for t in tables:
        got = pq.read_schema(os.path.join(tmp, f"{t}.parquet"))
        assert got.remove_metadata().equals(schema_of(t)), (t, got)
    os.rename(tmp, out)
    return out
