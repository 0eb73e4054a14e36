"""Seeded input generator for the benchmark workloads.

Writes one parquet file per table in the testdata layout the declared
queries read (``<dir>/<table>.parquet``), with the schemas and value
distributions of the synthetic TPC-H-ish testdata (TESTDATA.md, FIXTURES.md):
uniform keys, 31-word vocabulary documents, unit-norm 64-d float embeddings.
Everything derives from the workload seed, so the same seed gives
byte-identical tables.

On top of the base tables the generator plants near-duplicate chains:
``dup_share`` of the documents (and of the embeddings) belong to chains of
``chain_depth`` members, each member a small mutation of the previous one.
Consecutive members pass the minhash / cosine gates and distant ones do not,
so the chains become long paths in the pair graph and drive the number of
connected-components rounds. Row order in every file is a seeded
permutation.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
PART_WORDS = np.array(["large", "hot", "blue", "small", "red", "green", "cold"])
PART_THINGS = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# Rows per unit of scale (scale 1.0 = the sf0.1 testdata row counts).
BASE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "events": 100_000, "documents": 5_000,
             "embeddings": 2_000}
EMB_DIM = 64


def _ts(us):
    return us.astype("datetime64[us]")


def _permute(rng, cols):
    n = len(next(iter(cols.values())))
    order = rng.permutation(n)
    return {k: (v[order] if isinstance(v, np.ndarray) else [v[i] for i in order])
            for k, v in cols.items()}


def _column(values, typ):
    if pa.types.is_list(typ):  # 2-d float array → list<float>
        return pa.FixedSizeListArray.from_arrays(values.reshape(-1), values.shape[1]).cast(typ)
    return pa.array(values, typ)


def _write(path, cols, schema):
    table = pa.table({k: _column(cols[k], schema.field(k).type) for k in schema.names},
                     schema=schema)
    pq.write_table(table, path)
    return os.path.getsize(path), table.num_rows


def _tpch(rng, n):
    """region..lineitem plus events, at n[...] rows."""
    out = {}
    out["region"] = ({"r_regionkey": np.arange(5, dtype=np.int32),
                      "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
                     pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    out["nation"] = ({"n_nationkey": np.arange(25, dtype=np.int32),
                      "n_name": [f"NATION_{i}" for i in range(25)],
                      "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
                     pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                                ("n_regionkey", pa.int32())]))
    nc = n["customer"]
    out["customer"] = ({"c_custkey": np.arange(nc, dtype=np.int64),
                        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
                        "c_acctbal": rng.integers(-99_999, 1_000_000, nc) / 100.0,
                        "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)]},
                       pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                                  ("c_mktsegment", pa.string())]))
    ns = n["supplier"]
    out["supplier"] = ({"s_suppkey": np.arange(ns, dtype=np.int64),
                        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
                        "s_acctbal": rng.integers(-99_999, 1_000_000, ns) / 100.0},
                       pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    npart = n["part"]
    names = np.char.add(np.char.add(PART_WORDS[rng.integers(0, len(PART_WORDS), npart)], " "),
                        PART_THINGS[rng.integers(0, len(PART_THINGS), npart)])
    out["part"] = ({"p_partkey": np.arange(npart, dtype=np.int64),
                    "p_name": names,
                    "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
                    "p_type": PART_TYPES[rng.integers(0, 6, npart)],
                    "p_size": rng.integers(1, 51, npart).astype(np.int32),
                    "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0},
                   pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                              ("p_brand", pa.string()), ("p_type", pa.string()),
                              ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    no = n["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US
    out["orders"] = ({"o_orderkey": np.arange(no, dtype=np.int64),
                      "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                      "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, no)],
                      "o_totalprice": rng.integers(100_191, 49_999_319, no) / 100.0,
                      "o_orderdate": _ts(odate),
                      "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)]},
                     pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                                ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                                ("o_orderdate", pa.timestamp("us")),
                                ("o_orderpriority", pa.string())]))
    # 1..7 lines per order, 4 on average: lineitem ≈ 4 × orders
    lines = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ln = (np.arange(len(lk)) - starts + 1).astype(np.int32)
    nl = len(lk)
    out["lineitem"] = ({"l_orderkey": lk,
                        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
                        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                        "l_linenumber": ln,
                        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                        "l_extendedprice": rng.integers(90_068, 10_499_992, nl) / 100.0,
                        "l_discount": rng.integers(0, 11, nl) / 100.0,
                        "l_tax": rng.integers(0, 9, nl) / 100.0,
                        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
                        "l_shipdate": _ts(np.repeat(odate, lines)
                                          + rng.integers(1, 122, nl) * DAY_US)},
                       pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                                  ("l_quantity", pa.float64()),
                                  ("l_extendedprice", pa.float64()),
                                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                                  ("l_shipdate", pa.timestamp("us"))]))
    ne = n["events"]
    ets = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, ne))
    out["events"] = ({"event_id": np.arange(ne, dtype=np.int64),
                      "ts": _ts(ets),
                      "user_id": rng.integers(0, 1500, ne).astype(np.int64),
                      "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
                      "value": np.round(rng.exponential(60.0, ne), 2),
                      "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]},
                     pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                                ("user_id", pa.int64()), ("event_type", pa.string()),
                                ("value", pa.float64()), ("props", pa.string())]))
    return out


def _mutate(rng, words, k):
    w = list(words)
    for pos in rng.choice(len(w), size=min(k, len(w)), replace=False):
        w[pos] = VOCAB[rng.integers(0, len(VOCAB))]
    return w


def _documents(rng, n_base, dup_share, depth):
    """Base documents plus near-duplicate chains (2 of ~55 words change per
    link); ids are a seeded permutation so chains are not id-contiguous."""
    n_chain_docs = int(round(n_base * dup_share / (1.0 - dup_share))) if dup_share else 0
    n_chains = n_chain_docs // depth if depth else 0
    texts = [list(rng.choice(VOCAB, size=rng.integers(10, 101))) for _ in range(n_base)]
    long_ids = [i for i, t in enumerate(texts) if len(t) >= 40]
    for root in rng.choice(long_ids, size=n_chains, replace=False):
        prev = texts[root]
        for _ in range(depth):
            prev = _mutate(rng, prev, 2)
            texts.append(prev)
    total = len(texts)
    ids = rng.permutation(total).astype(np.int64)
    text = [" ".join(t) for t in texts]
    cols = {"doc_id": ids, "text": text,
            "lang": LANGS[rng.choice(5, size=total, p=LANG_P)],
            "source": np.char.add("src", (ids % 20).astype(str)),
            "n_chars": np.array([len(s) for s in text], dtype=np.int64)}
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    return cols, schema, n_chains * depth


def _unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def _embeddings(rng, n_base, dup_share, depth):
    """Random unit vectors plus chains whose consecutive members have cosine
    ≈ 0.6, so only near neighbours along a chain pass the 0.35 gate."""
    n_chain = int(round(n_base * dup_share / (1.0 - dup_share))) if dup_share else 0
    n_chains = n_chain // depth if depth else 0
    vecs = [_unit(rng.standard_normal((n_base, EMB_DIM)))]
    for _ in range(n_chains):
        prev = _unit(rng.standard_normal(EMB_DIM))
        chain = []
        for _ in range(depth):
            prev = _unit(prev + 1.3 * rng.standard_normal(EMB_DIM) / np.sqrt(EMB_DIM))
            chain.append(prev)
        vecs.append(np.stack(chain))
    x = np.concatenate(vecs)
    total = len(x)
    ids = rng.permutation(total).astype(np.int64)
    cols = {"vec_id": ids, "embedding": x,
            "label": rng.integers(0, 10, total).astype(np.int32)}
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    return cols, schema, n_chains * depth


def generate(out_dir, seed, scale, doc_scale, vec_scale, dup_share, chain_depth, tables):
    """Write the named tables under out_dir; return a description of the
    inputs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    made = _tpch(rng, n)
    dcols, dschema, dup_docs = _documents(rng, int(BASE_ROWS["documents"] * doc_scale),
                                          dup_share, chain_depth)
    ecols, eschema, dup_vecs = _embeddings(rng, int(BASE_ROWS["embeddings"] * vec_scale),
                                           dup_share, chain_depth)
    made["documents"] = (dcols, dschema)
    made["embeddings"] = (ecols, eschema)
    rows = bytes_ = 0
    sizes = {}
    for name in tables:
        cols, schema = made[name]
        if name not in ("region", "nation"):
            cols = _permute(rng, cols)
        size, nrows = _write(os.path.join(out_dir, f"{name}.parquet"), cols, schema)
        sizes[name] = nrows
        rows += nrows
        bytes_ += size
    return {"rows": rows, "bytes": bytes_, "table_rows": sizes,
            "dup_docs": dup_docs, "dup_vecs": dup_vecs,
            "dup_share_docs": dup_docs / sizes["documents"] if "documents" in sizes else 0.0,
            "dup_share_vecs": dup_vecs / sizes["embeddings"] if "embeddings" in sizes else 0.0}


WAVE_SCHEMA = pa.schema([("kind", pa.string()), ("id", pa.int64()), ("text", pa.string()),
                         ("embedding", pa.list_(pa.float32()))])


def write_waves(data_dir, n_waves):
    """Split documents and embeddings into n_waves ascending-id slices, one
    parquet file per wave under data_dir/waves. Documents split by the
    span service's rule, ``least(n-1, (doc_id - min) * n // span)``;
    embeddings by ``(max + 1) * k // n`` boundaries. Returns the wave bytes."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"])
    doc_id = docs["doc_id"].to_numpy()
    lo, span = doc_id.min(), doc_id.max() - doc_id.min() + 1
    doc_wave = np.minimum(n_waves - 1, (doc_id - lo) * n_waves // span)
    vec_id = emb["vec_id"].to_numpy()
    vec_wave = np.searchsorted((vec_id.max() + 1) * np.arange(1, n_waves + 1) // n_waves,
                               vec_id, side="right")
    os.makedirs(os.path.join(data_dir, "waves"), exist_ok=True)
    total = 0
    for k in range(n_waves):
        d = docs.filter(pa.array(doc_wave == k))
        e = emb.filter(pa.array(vec_wave == k))
        wave = pa.concat_tables([
            pa.table({"kind": pa.array(["doc"] * d.num_rows, pa.string()),
                      "id": d["doc_id"], "text": d["text"],
                      "embedding": pa.nulls(d.num_rows, pa.list_(pa.float32()))},
                     schema=WAVE_SCHEMA),
            pa.table({"kind": pa.array(["emb"] * e.num_rows, pa.string()),
                      "id": e["vec_id"], "text": pa.nulls(e.num_rows, pa.string()),
                      "embedding": e["embedding"]}, schema=WAVE_SCHEMA)])
        path = os.path.join(data_dir, "waves", f"wave-{k:04d}.parquet")
        pq.write_table(wave, path)
        total += os.path.getsize(path)
    return total
