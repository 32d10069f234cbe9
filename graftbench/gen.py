"""Seeded input generator for the benchmark's workloads.

Writes the engine's ten tables (the column names and parquet types of
its testdata) as parquet: a table of at least SPLIT_ROWS rows as a
directory of FILES part files, the way Spark and `ScaleUp` write it,
so its scan runs as several tasks; a smaller one as a single file.
Every draw comes from one numpy generator seeded with the workload
seed, so the same seed gives the same files. The steps are:

1. a small base corpus, drawn from the seed;
2. key-safe replication by the rule of the engine's `graft.tools.ScaleUp`:
   copy i of every keyed table shifts each id column by i times the
   smallest power of ten above that keyspace's largest id, so every
   foreign key still matches; `region` and `nation` are not copied;
3. the workload's edits to the document and embedding copies;
4. a seeded row order for every table.

The replication runs here rather than through `ScaleUp.run` itself:
that takes about 20 s of Spark jobs in a fresh JVM per seed, which a
benchmark run cannot afford.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
# dedup's words: 2,500 two-syllable words, so documents that are not
# copies of one another share few tokens and the near-dup graph holds
# the planted clone groups rather than chance links between them
WORDS = [a + b + c + d for a in "bdfgklmnprstvz" for b in "aeiou"
         for c in "bdfgklmnprstvz" for d in "aeiou"][:2500]

# base row counts, ScaleUp copies, and the giant clone group (0: no
# clone groups; every copy is rewritten into a distinct document)
SHAPES = {
    "olap": dict(orders=7500, customers=750, parts=1000, suppliers=50,
                 events=5000, users=75, docs=50, vecs=50, copies=8, giant=0),
    "corpus": dict(orders=100, customers=10, parts=10, suppliers=5,
                   events=100, users=5, docs=300, vecs=300, copies=2, giant=0),
    "dedup": dict(orders=50, customers=10, parts=10, suppliers=5,
                  events=50, users=5, docs=160, vecs=100, copies=48, giant=48),
}

# (table, {column: keyspace}) — the ScaleUp plan
KEYS = [
    ("customer", {"c_custkey": "customer"}),
    ("supplier", {"s_suppkey": "supplier"}),
    ("part", {"p_partkey": "part"}),
    ("orders", {"o_orderkey": "orders", "o_custkey": "customer"}),
    ("lineitem", {"l_orderkey": "orders", "l_partkey": "part",
                  "l_suppkey": "supplier"}),
    ("events", {"event_id": "events", "user_id": "events_user"}),
    ("documents", {"doc_id": "documents"}),
    ("embeddings", {"vec_id": "embeddings"}),
]
OWNERS = {"customer": ("customer", "c_custkey"), "supplier": ("supplier", "s_suppkey"),
          "part": ("part", "p_partkey"), "orders": ("orders", "o_orderkey"),
          "events": ("events", "event_id"), "events_user": ("events", "user_id"),
          "documents": ("documents", "doc_id"), "embeddings": ("embeddings", "vec_id")}
SPLIT_ROWS, FILES = 20000, 4
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def days(start, offsets):
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]").astype(
        "timedelta64[us]")


def base(rng, s):
    t = {}
    t["region"] = {"r_regionkey": (np.arange(5), I32),
                   "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], STR)}
    t["nation"] = {"n_nationkey": (np.arange(25), I32),
                   "n_name": ([f"NATION_{i}" for i in range(25)], STR),
                   "n_regionkey": (np.arange(25) % 5, I32)}
    n = s["customers"]
    t["customer"] = {
        "c_custkey": (np.arange(n), I64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n)], STR),
        "c_nationkey": (rng.integers(0, 25, n), I32),
        "c_acctbal": (np.round(rng.uniform(-999.99, 9999.99, n), 2), F64),
        "c_mktsegment": (pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n), STR)}
    n = s["suppliers"]
    t["supplier"] = {
        "s_suppkey": (np.arange(n), I64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n)], STR),
        "s_nationkey": (rng.integers(0, 25, n), I32),
        "s_acctbal": (np.round(rng.uniform(-999.99, 9999.99, n), 2), F64)}
    n = s["parts"]
    price = np.round(900.0 + rng.integers(0, 1000, n) / 10.0, 1)
    adj = pick(rng, ["red", "blue", "small", "large", "hot", "old", "green", "shiny"], n)
    noun = pick(rng, ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"], n)
    t["part"] = {
        "p_partkey": (np.arange(n), I64),
        "p_name": ([f"{a} {b}" for a, b in zip(adj, noun)], STR),
        "p_brand": ([f"Brand#{i}" for i in rng.integers(1, 26, n)], STR),
        "p_type": (pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n), STR),
        "p_size": (rng.integers(1, 51, n), I32),
        "p_retailprice": (price, F64)}
    n = s["orders"]
    odate = days("1995-01-01", rng.integers(0, 2400, n))
    t["orders"] = {
        "o_orderkey": (np.arange(n), I64),
        "o_custkey": (rng.integers(0, s["customers"], n), I64),
        "o_orderstatus": (pick(rng, ["F", "O", "P"], n), STR),
        "o_totalprice": (np.round(rng.uniform(1000.0, 500000.0, n), 2), F64),
        "o_orderdate": (odate, TS),
        "o_orderpriority": (pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n), STR)}
    per = rng.integers(1, 8, n)
    okey = np.repeat(np.arange(n), per)
    m = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    pkey = rng.integers(0, s["parts"], m)
    qty = rng.integers(1, 51, m).astype(float)
    t["lineitem"] = {
        "l_orderkey": (okey, I64), "l_partkey": (pkey, I64),
        "l_suppkey": (rng.integers(0, s["suppliers"], m), I64),
        "l_linenumber": (lnum, I32), "l_quantity": (qty, F64),
        "l_extendedprice": (np.round(qty * price[pkey], 2), F64),
        "l_discount": (rng.integers(0, 11, m) / 100.0, F64),
        "l_tax": (rng.integers(0, 9, m) / 100.0, F64),
        "l_returnflag": (pick(rng, ["A", "N", "R"], m), STR),
        "l_linestatus": (pick(rng, ["F", "O"], m), STR),
        "l_shipdate": (odate[okey] + (rng.integers(1, 122, m)
                                      .astype("timedelta64[D]").astype("timedelta64[us]")), TS)}
    n = s["events"]
    span = 30 * 24 * 3600 * 10**6
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, span, n)).astype(
        "timedelta64[us]")
    t["events"] = {
        "event_id": (np.arange(n), I64), "ts": (ts, TS),
        "user_id": (rng.integers(0, s["users"], n), I64),
        "event_type": (pick(rng, ["click", "error", "purchase", "signup", "view"], n), STR),
        "value": (np.round(np.minimum(490.0, 0.01 + rng.exponential(50.0, n)), 2), F64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], STR)}
    n = s["docs"]
    texts = base_texts(rng, s)
    langs = np.array(["en", "zh", "es", "de", "fr"], dtype=object)[
        np.searchsorted([0.44, 0.59, 0.73, 0.87], rng.random(n), side="right")]
    t["documents"] = {
        "doc_id": (np.arange(n), I64), "text": (texts, STR), "lang": (langs, STR),
        "source": ([f"src{k}" for k in rng.integers(0, 20, n)], STR),
        "n_chars": ([len(x) for x in texts], I64)}
    # embeddings: unit 64-d vectors around one of ten label centres
    n = s["vecs"]
    label = rng.integers(0, 10, n)
    centres = rng.standard_normal((10, 64))
    v = 0.3 * centres[label] + rng.standard_normal((n, 64))
    t["embeddings"] = {"vec_id": (np.arange(n), I64), "embedding": (unit(v), None),
                       "label": (label, I32)}
    return t


def base_texts(rng, s):
    """Base documents of 10-100 words; about one in twenty repeats an
    earlier document with a trailing "dup" token. With clone groups
    (dedup) the shape is fixed and only the words and the slot dealing
    come from the seed: document i fills slot s["slot"][i], whose length,
    clone depth (`clone_depths`) and "dup" source are the same for every
    seed, so no seed hands the giant group a 10- or a 100-word text."""
    n = s["docs"]
    if s["giant"] == 0:
        texts = []
        for i in range(n):
            if i > 0 and rng.random() < 0.05:
                texts.append(texts[rng.integers(0, i)] + " dup")
            else:
                texts.append(" ".join(pick(rng, VOCAB, rng.integers(10, 101))))
        return texts
    slot = s["slot"]
    length = 10 + (np.arange(n) * 53 + 45) % 91
    length[-1] = 55
    by_slot = [" ".join(pick(rng, WORDS, k)) for k in length]
    for k in range(10, n, 20):
        by_slot[k] = by_slot[k - 1] + " dup"
    return [by_slot[k] for k in slot]


def clone_depths(s):
    """Clone depth per slot: the quantiles of P(d >= k) = k^-1.5, capped
    at 12, the last one raised to the giant group."""
    nbase = s["docs"]
    u = (np.arange(nbase) + 0.5) / nbase
    depth = np.minimum(12, np.floor((1.0 - u) ** (-1 / 1.5))).astype(int)
    depth[-1] = s["giant"]
    return depth


def rewrite_exact(rng, text, p):
    """Exactly round(p × tokens) tokens (at least one), each replaced by
    another word of WORDS."""
    toks = text.split(" ")
    for j in rng.choice(len(toks), max(1, round(p * len(toks))), replace=False):
        w = WORDS[rng.integers(0, len(WORDS) - 1)]
        toks[j] = w if w != toks[j] else WORDS[-1]
    return " ".join(toks)


def unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def pow10_above(mx):
    p = 1
    while p <= mx:
        p *= 10
    return p


def scale_up(t, copies):
    """ScaleUp's replication: copy i of each keyed table shifts every id
    column by i × the offset of its keyspace."""
    offset = {ks: pow10_above(int(np.max(t[tab][c][0]))) for ks, (tab, c) in OWNERS.items()}
    out = {"region": t["region"], "nation": t["nation"]}
    for tab, keys in KEYS:
        cols = {}
        for c, (vals, typ) in t[tab].items():
            if typ is None:
                cols[c] = (np.concatenate([vals] * copies), None)
            elif c in keys:
                a = np.asarray(vals, dtype=np.int64)
                cols[c] = (np.concatenate([a + i * offset[keys[c]] for i in range(copies)]), typ)
            else:
                cols[c] = (np.concatenate([np.asarray(vals, dtype=object if typ == STR else None)]
                                          * copies), typ)
        out[tab] = cols
    return out, offset


def rewrite(rng, text, p):
    """Each token replaced by a random vocabulary word with probability p."""
    toks = text.split(" ")
    hit = rng.random(len(toks)) < p
    return " ".join(VOCAB[rng.integers(0, len(VOCAB))] if h else w for w, h in zip(toks, hit))


def edit(rng, t, offset, s):
    docs = t["documents"]
    ids = docs["doc_id"][0]
    copy = ids // offset["documents"]
    texts = list(docs["text"][0])
    if s["giant"] == 0:
        # near-unique corpus: every copy rewrites about 30% of its tokens
        keep = np.ones(len(ids), bool)
        texts = [rewrite(rng, x, 0.3) if c > 0 else x for x, c in zip(texts, copy)]
    else:
        # clone groups: base document i gets the depth of its slot; in
        # each group a quarter of the copies (rounded, the seed picks
        # which) are near-dup variants with one token in ten rewritten,
        # so every seed has the same group sizes and distinct contents
        depth = clone_depths(s)[s["slot"]]
        base_id = ids % offset["documents"]
        keep = copy < depth[base_id]
        variant = np.zeros(len(ids), bool)
        for b, d in enumerate(depth):
            rows = np.flatnonzero((base_id == b) & (copy > 0) & keep)
            variant[rng.choice(rows, round(0.25 * (d - 1)), replace=False)] = True
        texts = [rewrite_exact(rng, x, 0.1) if v else x for x, v in zip(texts, variant)]
    texts = np.asarray(texts, dtype=object)
    cols = {c: (np.asarray(v, dtype=object if typ == STR else None)[keep], typ)
            for c, (v, typ) in docs.items() if c not in ("text", "n_chars")}
    cols["text"] = (texts[keep], STR)
    cols["n_chars"] = (np.array([len(x) for x in texts[keep]]), I64)
    t["documents"] = {c: cols[c] for c in docs}

    emb = t["embeddings"]
    vcopy = emb["vec_id"][0] // offset["embeddings"]
    v = emb["embedding"][0].astype(np.float64)
    if s["giant"] == 0:
        v = unit(v + (vcopy > 0)[:, None] * rng.normal(0, 0.05, v.shape))
        t["embeddings"]["embedding"] = (v, None)
    else:
        keep = vcopy == 0
        t["embeddings"] = {c: (np.asarray(x)[keep], typ) for c, (x, typ) in emb.items()}


def write(t, out, rng):
    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        cols = t[name]
        n = len(next(iter(cols.values()))[0])
        order = rng.permutation(n)
        arrays, names = [], []
        for c, (vals, typ) in cols.items():
            vals = np.asarray(vals, dtype=object) if typ == STR else np.asarray(vals)
            vals = vals[order]
            if typ is None:
                flat = pa.array(vals.reshape(-1), pa.float32())
                arr = pa.FixedSizeListArray.from_arrays(flat, vals.shape[1]).cast(
                    pa.list_(pa.float32()))
            else:
                arr = pa.array(vals.tolist() if typ == STR else vals, typ)
            arrays.append(arr)
            names.append(c)
        table = pa.table(arrays, names=names)
        path = os.path.join(out, f"{name}.parquet")
        if n < SPLIT_ROWS:
            pq.write_table(table, path)
            continue
        os.makedirs(path)
        for i, lo in enumerate(range(0, n, -(-n // FILES))):
            pq.write_table(table.slice(lo, -(-n // FILES)),
                           os.path.join(path, f"part-{i:05d}.parquet"))


def properties(out):
    tables = {}
    for name in TABLES:
        f = os.path.join(out, f"{name}.parquet")
        files = [os.path.join(f, x) for x in sorted(os.listdir(f))] if os.path.isdir(f) else [f]
        tables[name] = {"rows": sum(pq.read_metadata(x).num_rows for x in files),
                        "mb": sum(os.path.getsize(x) for x in files) / 1e6,
                        "files": len(files)}
    texts = pq.read_table(os.path.join(out, "documents.parquet"), columns=["text"])
    groups = {}
    for x in texts.column(0).to_pylist():
        k = x.strip().lower()
        groups[k] = groups.get(k, 0) + 1
    sizes = sorted(groups.values())
    return {
        "tables": tables,
        "distinct_content": len(sizes),
        "exact_clone_share": 1.0 - len(sizes) / sum(sizes),
        "clone_depth_max": sizes[-1],
        "clone_depth_p99": sizes[min(len(sizes) - 1, int(np.ceil(0.99 * len(sizes))) - 1)],
    }


def generate(workload, seed, out):
    s = dict(SHAPES[workload])
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    if s["giant"]:
        s["slot"] = rng.permutation(s["docs"])
    t, offset = scale_up(base(rng, s), s["copies"])
    edit(rng, t, offset, s)
    write(t, out, rng)
    props = properties(out)
    with open(os.path.join(out, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props
