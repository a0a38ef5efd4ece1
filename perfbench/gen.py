"""Seeded input generators for the benchmark.

Every generator draws from its own numpy stream, keyed by (seed, stream
id), so the same seed gives byte-identical files and a change to one
generator does not shift the draws of another.  The program under test
only ever sees the files written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids: one per generator, never reused
_S_CUSTOMER, _S_SUPPLIER, _S_PART, _S_ORDERS, _S_LINEITEM = range(1, 6)
_S_EVENTS, _S_DOCS, _S_EMB, _S_TREE, _S_MUTATE, _S_REQUESTS, _S_SPLITS = range(6, 13)
_S_ORDER = 13

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
DUP_WORD = "dup"
DIM = 64
N_LABELS = 10


def rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(start, end, n, r):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = r.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(r, lo, hi, n):
    return np.round(r.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(r, options, n):
    return pa.array(np.asarray(options, dtype=object)[r.integers(0, len(options), n)], pa.string())


def table_sizes(sf):
    """Row counts of the star schema at scale factor `sf` (TPC-H-ish)."""
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000), "events": n(1_000_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
        "users": max(1, n(15_000)),
    }


def documents(seed, n):
    """(doc_id, text) pairs: 10-100 words from VOCAB; 5% carry the
    DUP_WORD marker and a few of those copy an earlier marked text."""
    r = rng(seed, _S_DOCS)
    texts, marked = [], []
    for i in range(n):
        words = [VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(10, 101)))]
        text = " ".join(words)
        if r.random() < 0.05:
            if marked and r.random() < 0.04:
                text = texts[marked[int(r.integers(0, len(marked)))]]
            else:
                text = text + " " + DUP_WORD
            marked.append(i)
        texts.append(text)
    langs = np.asarray(["en", "fr", "es", "zh", "de"], dtype=object)[
        r.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return texts, langs


def embeddings(seed, n):
    """Unit vectors around N_LABELS seeded centroids, as float32."""
    r = rng(seed, _S_EMB)
    cent = r.standard_normal((N_LABELS, DIM))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    labels = r.integers(0, N_LABELS, n)
    v = cent[labels] + 0.6 * r.standard_normal((n, DIM)) / np.sqrt(DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def write_tables(out, seed, sf, names=TABLES):
    """Write the named tables as `<out>/<name>.parquet` (all ten by default)."""
    os.makedirs(out, exist_ok=True)
    for name in names:
        _WRITERS[name](out, seed, sf, table_sizes(sf))


def _table_region(out, seed, sf, z):
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")


def _table_nation(out, seed, sf, z):
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")


def _table_customer(out, seed, sf, z):
    r, n = rng(seed, _S_CUSTOMER), z["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)}),
        f"{out}/customer.parquet")


def _table_supplier(out, seed, sf, z):
    r, n = rng(seed, _S_SUPPLIER), z["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n)}),
        f"{out}/supplier.parquet")


def _table_part(out, seed, sf, z):
    r, n = rng(seed, _S_PART), z["part"]
    adj = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    names = [f"{a} {b}" for a in adj for b in noun]
    keys = np.arange(n)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _pick(r, names, n),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(r, ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"], n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")


def _table_orders(out, seed, sf, z):
    r, n = rng(seed, _S_ORDERS), z["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, z["customer"], n), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n, r),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)}),
        f"{out}/orders.parquet")


def _table_lineitem(out, seed, sf, z):
    r, n = rng(seed, _S_LINEITEM), z["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, z["orders"], n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, z["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, z["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n, r)}),
        f"{out}/lineitem.parquet")


def _table_events(out, seed, sf, z):
    r, n = rng(seed, _S_EVENTS), z["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + np.sort(r.integers(0, 30 * 86_400_000_000, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, z["users"], n), pa.int64()),
        "event_type": _pick(r, ["view", "click", "purchase", "signup", "error"], n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string())}),
        f"{out}/events.parquet")


def _table_documents(out, seed, sf, z):
    n = z["documents"]
    texts, langs = documents(seed, n)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")


def _table_embeddings(out, seed, sf, z):
    n = z["embeddings"]
    vecs, labels = embeddings(seed, n)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * DIM, DIM), pa.int32()), pa.array(vecs.ravel(), pa.float32()))
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


_WRITERS = {
    "region": _table_region, "nation": _table_nation, "customer": _table_customer,
    "supplier": _table_supplier, "part": _table_part, "orders": _table_orders,
    "lineitem": _table_lineitem, "events": _table_events, "documents": _table_documents,
    "embeddings": _table_embeddings,
}


# ------------------------------------------------------------ file tree

def _sizes(r, n, median, sigma, lo, hi):
    return np.clip(np.rint(r.lognormal(np.log(median), sigma, n)), lo, hi).astype(np.int64)


def _dup_groups(contents):
    """Relative paths grouped by content, groups of two or more, sorted."""
    by = {}
    for path, data in contents.items():
        by.setdefault(data, []).append(path)
    return sorted(sorted(g) for g in by.values() if len(g) > 1)


def file_tree(root, seed, n_files, dup_share=0.15, median=6_000, sigma=1.2):
    """Write a seeded tree under `root/base` and its mutation under
    `root/staged`; return the plan the harness applies and checks.

    Sizes are log-normal (median `median` bytes), contents are seeded
    random bytes, and `dup_share` of the files are planted copies of
    other files, in groups of two to four.  The mutation adds files
    (some of them new copies), rewrites some and deletes others; the
    plan carries the duplicate groups the index must report before the
    mutation and after the upsert (an upsert keeps the rows of deleted
    paths, so their old content still counts).
    """
    r = rng(seed, _S_TREE)
    n_orig = int(round(n_files * (1 - dup_share)))
    sizes = _sizes(r, n_orig, median, sigma, 64, 1 << 20)
    exts = ["txt", "log", "json", "csv", "bin", "png", "parquet", "md"]
    paths = [f"d{int(r.integers(0, 8))}/s{int(r.integers(0, 4))}/f{i:05d}.{exts[int(r.integers(0, len(exts)))]}"
             for i in range(n_files)]
    contents = {}
    for i in range(n_orig):
        contents[paths[i]] = r.bytes(int(sizes[i]))
    originals = paths[:n_orig]
    # planted copies: each picks a source, so groups grow to 2-4 members
    src_of = {}
    for i in range(n_orig, n_files):
        while True:
            src = originals[int(r.integers(0, len(originals)))]
            if sum(1 for s in src_of.values() if s == src) < 3:
                break
        src_of[paths[i]] = src
        contents[paths[i]] = contents[src]
    before = dict(contents)

    m = rng(seed, _S_MUTATE)
    n_mut = max(3, n_files // 10)
    live = sorted(contents)
    order = m.permutation(len(live))
    deleted = [live[j] for j in order[:n_mut]]
    modified = [live[j] for j in order[n_mut:2 * n_mut]]
    added = [f"d{int(m.integers(0, 8))}/new/a{i:05d}.dat" for i in range(n_mut)]
    ops, after = [], dict(before)
    for p in deleted:
        ops.append({"op": "delete", "path": p})
        del after[p]
    for j, p in enumerate(modified):
        data = m.bytes(int(_sizes(m, 1, median, sigma, 64, 1 << 20)[0]))
        ops.append({"op": "modify", "path": p, "staged": f"mod{j:05d}"})
        after[p] = data
    for j, p in enumerate(added):
        if j % 3 == 0:  # a new copy of a surviving file
            data = after[sorted(after)[int(m.integers(0, len(after)))]]
        else:
            data = m.bytes(int(_sizes(m, 1, median, sigma, 64, 1 << 20)[0]))
        ops.append({"op": "add", "path": p, "staged": f"add{j:05d}"})
        after[p] = data

    for rel, data in before.items():
        dst = os.path.join(root, "base", rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(dst, "wb") as f:
            f.write(data)
    os.makedirs(os.path.join(root, "staged"), exist_ok=True)
    for op in ops:
        if "staged" in op:
            with open(os.path.join(root, "staged", op["staged"]), "wb") as f:
                f.write(after[op["path"]])
    upserted = dict(after)
    for p in deleted:
        upserted[p] = before[p]
    plan = {
        "files": len(before),
        "tree_bytes": sum(len(d) for d in before.values()),
        "rescan_bytes": sum(len(d) for d in after.values()),
        "ops": ops,
        "dups_before": _dup_groups(before),
        "dups_after_upsert": _dup_groups(upserted),
    }
    return plan


# ------------------------------------------------------------ requests

def zipf_words(r, n, a=1.0):
    """`n` indices into VOCAB + [DUP_WORD], drawn Zipf-wise (rank 1 most common)."""
    v = len(VOCAB) + 1
    p = 1.0 / np.arange(1, v + 1) ** a
    return r.choice(v, n, p=p / p.sum())


def search_requests(seed, n, emb_vecs, batch_size=16):
    """A seeded request sequence for the serving clients.

    Every block of four requests holds one request of each verb: a
    lexical, an ann and a hybrid GET and one POST batch of `batch_size`
    lexical queries, in a fixed order, so any whole number of blocks
    has the same mix and the same kinds overlap between clients
    whatever the seed.  No traffic data sets this mix, so each verb
    weighs the same.  Query texts are 1-4 tokens drawn from the corpus
    vocabulary by Zipf's law (exponent 1), so some repeat; query
    vectors are corpus embeddings plus seeded noise (sd 0.05 per
    component).  The exponent and the noise are assumptions, not
    measured traffic.
    """
    r = rng(seed, _S_REQUESTS)
    words = VOCAB + [DUP_WORD]
    block = ["lexical", "ann", "hybrid", "batch"]

    def text():
        k = int(r.integers(1, 5))
        return " ".join(words[i] for i in zipf_words(r, k))

    def vec():
        v = emb_vecs[int(r.integers(0, len(emb_vecs)))].astype(np.float64)
        v = v + 0.05 * r.standard_normal(len(v))
        return [float(x) for x in np.round(v / np.linalg.norm(v), 6)]

    out = []
    while len(out) < n:
        for kind in block:
            req = {"kind": kind}
            if kind in ("lexical", "hybrid"):
                req["q"] = text()
            if kind in ("ann", "hybrid"):
                req["vec"] = vec()
            if kind == "batch":
                req["qs"] = [text() for _ in range(batch_size)]
            out.append(req)
    return out[:n]


def lifecycle_splits(seed, n_ids, rounds, base_share=0.6):
    """Base ids, per-round append ids and per-round victims (drawn from
    the ids live at that point), all seeded."""
    r = rng(seed, _S_SPLITS)
    ids = r.permutation(n_ids)
    n_base = int(n_ids * base_share)
    base = sorted(int(i) for i in ids[:n_base])
    rest = ids[n_base:]
    per = len(rest) // rounds
    live = set(base)
    out = []
    for k in range(rounds):
        app = sorted(int(i) for i in rest[k * per:(k + 1) * per])
        live |= set(app)
        pool = sorted(live)
        vic = sorted(int(pool[j]) for j in r.choice(len(pool), max(1, len(pool) // 20), replace=False))
        live -= set(vic)
        out.append({"append": app, "remove": vic, "live_after": len(live)})
    return {"base": base, "rounds": out, "live": sorted(live)}


def query_order(seed, names):
    """The analytics query list in a seeded order."""
    r = rng(seed, _S_ORDER)
    return [names[int(i)] for i in r.permutation(len(names))]


def dump(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)
