"""Seeded input generators. A seed always yields the same bytes, and sizes
never depend on the seed: two seeds differ in values, not in the amount of
work. The inputs are written before the program starts and the program
only reads them.

The table recipes follow the repository's test tables (TESTDATA.md: same
schemas and types,
key relationships and value domains) and the repository's scale-data
generator, but live here, so a change to the program cannot change the
benchmark's inputs.
"""
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One small tier, the size of the sf0.001 test tables: per-query fixed
# cost (building the frame, Catalyst, scheduling) dominates at this size.
TIER = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "events": 1000, "users": 15, "documents": 500, "embeddings": 500}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PCOLORS = ["cold", "hot", "blue", "red", "small", "old", "large", "new"]
PNOUNS = ["plate", "gear", "rod", "ring", "bolt", "widget"]
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = ("spark batch part line column order small sort fast value scan hash slow "
         "group agg filter query big key window join shuffle cache disk memory task "
         "stage executor worker plan code row table index merge skew broadcast bucket "
         "range stream the a data vector customer dup").split()
LANGS = ["en", "de", "es", "fr", "zh"]
DIM = 64
LABELS = 10
DAY_US = 86400 * 10**6
EPOCH_1995_US = 788918400 * 10**6
EPOCH_2024_US = 1704067200 * 10**6


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _money(r, n, lo, hi):
    return np.round(lo + r.random(n) * (hi - lo), 2)


def _pick(r, values, n):
    return pa.array(np.array(values, dtype=object)[r.integers(0, len(values), n)], pa.string())


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _write(path, cols):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
    return len(next(iter(cols.values())))


def tables(out, seed):
    """The ten test tables under `out`, one parquet directory each.
    Returns the row count of each."""
    t = TIER
    rows = {}
    i32, i64 = pa.int32(), pa.int64()
    rows["region"] = _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    rows["nation"] = _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = t["customer"]
    r = _rng(seed, 1)
    rows["customer"] = _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n), i32),
        "c_acctbal": pa.array(_money(r, n, -999.85, 9999.8)),
        "c_mktsegment": _pick(r, SEGMENTS, n)})
    n = t["supplier"]
    r = _rng(seed, 2)
    rows["supplier"] = _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n), i32),
        "s_acctbal": pa.array(_money(r, n, -999.0, 9999.0))})
    n = t["part"]
    r = _rng(seed, 3)
    colors, nouns = r.integers(0, len(PCOLORS), n), r.integers(0, len(PNOUNS), n)
    rows["part"] = _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array([f"{PCOLORS[c]} {PNOUNS[w]}" for c, w in zip(colors, nouns)]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": _pick(r, PTYPES, n),
        "p_size": pa.array(r.integers(1, 51, n), i32),
        "p_retailprice": pa.array(_money(r, n, 900.0, 999.9))})
    n = t["orders"]
    r = _rng(seed, 4)
    rows["orders"] = _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(r.integers(0, t["customer"], n), i64),
        "o_orderstatus": _pick(r, ["O", "P", "F"], n),
        "o_totalprice": pa.array(_money(r, n, 1000.0, 500000.0)),
        "o_orderdate": _ts(EPOCH_1995_US + r.integers(0, 2405, n) * DAY_US),
        "o_orderpriority": _pick(r, PRIORITIES, n)})
    n = 4 * t["orders"]
    r = _rng(seed, 5)
    flags = r.integers(0, len(FLAGS), n)
    rows["lineitem"] = _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(np.arange(n) // 4, i64),
        "l_partkey": pa.array(r.integers(0, t["part"], n), i64),
        "l_suppkey": pa.array(r.integers(0, t["supplier"], n), i64),
        "l_linenumber": pa.array(np.arange(n) % 4 + 1, i32),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, n, 900.68, 104999.91)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([FLAGS[f][0] for f in flags]),
        "l_linestatus": pa.array([FLAGS[f][1] for f in flags]),
        "l_shipdate": _ts(EPOCH_1995_US + r.integers(0, 2500, n) * DAY_US)})
    n = t["events"]
    r = _rng(seed, 6)
    slot = 30 * DAY_US // n
    rows["events"] = _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": _ts(EPOCH_2024_US + np.arange(n) * slot + r.integers(0, slot, n)),
        "user_id": pa.array(r.integers(0, t["users"], n), i64),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.random(n) * 560.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})
    rows.update(corpus(out, seed, t["documents"], t["embeddings"]))
    return rows


def corpus(out, seed, n_docs, n_emb):
    """documents and embeddings, with ~2% exact and ~2% near duplicate
    documents and 1% near-duplicate vectors planted."""
    r = _rng(seed, 7)
    base = [" ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), r.integers(30, 71)))
            for _ in range(n_docs)]
    text = []
    for i in range(n_docs):
        if i % 50 == 1:
            text.append(base[i - 1])
        elif i % 50 == 3:
            text.append(" ".join(base[i - 2].split(" ")[:-1] + ["variant"]))
        else:
            text.append(base[i])
    r = _rng(seed, 8)
    i64 = pa.int64()
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), i64), "text": pa.array(text),
        "lang": _pick(r, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(x) for x in text], i64)})
    r = _rng(seed, 9)
    centroids = r.random((LABELS, DIM)) * 2 - 1
    labels = r.integers(0, LABELS, n_emb)
    vec = (centroids[labels] * 0.8 + (r.random((n_emb, DIM)) * 2 - 1) * 0.4).astype(np.float32)
    jitter = (r.random((n_emb, DIM)) * 0.002 - 0.001).astype(np.float32)
    for i in range(7, n_emb, 100):
        vec[i], labels[i] = vec[i - 1] + jitter[i], labels[i - 1]
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"documents": n_docs, "embeddings": n_emb}


# ------------------------------------------------------------------ images
W, H = 32, 24
_Y, _X = np.mgrid[0:H, 0:W]
_BASIS = [(u, v, 8.0 / (1 + u + v) * np.cos(np.pi * u * (_Y + 0.5) / H)
           * np.cos(np.pi * v * (_X + 0.5) / W))
          for u in range(4) for v in range(4) if u + v > 0]


def _png(gray):
    """An 8-bit RGB PNG with r = g = b = `gray`."""
    h, w = gray.shape
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def _image(r, cls):
    """A low-amplitude cosine texture around a per-class luminance centre:
    the 10 classes stay separable in a 16-bin luminance histogram."""
    signs = r.choice([-1.0, 1.0], size=len(_BASIS))
    s = sum(sg * b for sg, (_, _, b) in zip(signs, _BASIS))
    return _png(np.clip(np.trunc(18 + 24 * cls + s), 0, 255).astype(np.uint8))


def images(out, seed, n, n_train):
    """`n` manifest images under out/img/c<k>/ (the class directories
    double as the label dictionary), planted bad entries under out/bad/,
    out/manifest.txt in seeded order, and `n_train` labelled training
    images in out/train.parquet. Every 100th entry (id = 50 mod 100) is
    planted bad: odd hundreds name a missing file, even hundreds a file of
    non-image bytes. Manifest paths begin with `out` as given, so a
    relative `out` gives the same manifest in every checkout."""
    r = _rng(seed, 10)
    for c in range(LABELS):
        os.makedirs(f"{out}/img/c{c}", exist_ok=True)
    os.makedirs(f"{out}/bad", exist_ok=True)
    classes = r.integers(0, LABELS, n)
    paths = []
    for i in range(n):
        if i % 100 == 50:
            p = f"{out}/bad/img{i:06d}.png"
            if (i // 100) % 2 == 0:
                open(p, "wb").write(b"not an image")
        else:
            p = f"{out}/img/c{classes[i]}/img{i:06d}.png"
            open(p, "wb").write(_image(r, classes[i]))
        paths.append(p)
    with open(f"{out}/manifest.txt", "w") as f:
        f.write("".join(p + "\n" for p in r.permutation(paths)))
    train_cls = np.arange(n_train) % LABELS
    pq.write_table(pa.table({
        "label_idx": pa.array(train_cls, pa.int32()),
        "content": pa.array([_image(r, c) for c in train_cls], pa.binary())}),
        f"{out}/train.parquet")
    return {"images": n, "planted_bad": sum(1 for i in range(n) if i % 100 == 50),
            "train_images": n_train}
