"""Seeded input generator for the graft benchmark.

Every table is a pure function of a fixed base seed (its content), and the
run's ``--seed`` decides the bytes on disk: the row order of every table,
the key offsets of the conversion replica, and the split points of the
stream's input files. Content that a check pins (registry hashes, refinery
counts) is therefore the same for every seed, while the files differ.

Tables follow the schemas of the engine's TPC-H-ish fixtures (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) at half the sf0.01 row counts.
"""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# half the sf0.01 row counts of the fixture family
ROWS = {"customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
        "lineitem": 30000, "events": 5000, "documents": 300,
        "embeddings": 300}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
BOILERPLATE = ["subscribe to our newsletter", "all rights reserved",
               "click here to read more", "share this article",
               "cookies help us deliver our services"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
REPLICAS = 20              # conversion replica: 20 x lineitem
REFINERY_UNIQUE = 350      # refinery corpus: unique docs ...
REFINERY_SHARES = {"exact_dup": 50, "near_dup": 50, "contained": 25,
                   "contaminated": 25}   # ... plus these, 500 in all
BENCHMARK_DOCS = 10
STREAM_DOCS = 1000
STREAM_FILES = 5

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000   # 1995-01-01T00:00:00Z in micros
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in micros


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _sentence(rng, lo=4, hi=10):
    return " ".join(rng.choice(VOCAB, rng.integers(lo, hi + 1)))


def _doc_text(rng):
    """A document: 2-6 sentences joined by '. ', sometimes with a shared
    boilerplate line so line-level dedup has something to drop."""
    parts = [_sentence(rng) for _ in range(rng.integers(2, 7))]
    if rng.random() < 0.3:
        parts.insert(rng.integers(0, len(parts) + 1),
                     BOILERPLATE[rng.integers(0, len(BOILERPLATE))])
    return ". ".join(parts)


def _near_copy(rng, text):
    words = text.split(" ")
    for i in rng.choice(len(words), max(1, len(words) // 12), replace=False):
        words[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(words)


def documents_table(rng, n, first_id=0, n_sources=20):
    texts = [_doc_text(rng) for _ in range(n)]
    return _docs(np.arange(first_id, first_id + n), texts, rng, n_sources)


def _docs(ids, texts, rng, n_sources=20):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS[0], n, p=LANGS[1]), pa.string()),
        "source": pa.array([f"src{i % n_sources}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def base_tables():
    """The registry's tables, in a canonical (unpermuted) order."""
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    adj = ["large", "hot", "blue", "small", "red", "shiny", "old", "green"]
    noun = ["ring", "bolt", "gear", "pipe", "nut", "valve", "spring"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, len(adj), n),
                       rng.integers(0, len(noun), n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n) * 0.1, 2)})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2555, n) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    t["lineitem"] = lineitem(rng, ROWS["lineitem"])
    n = ROWS["events"]
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n // 7, n), pa.int64()),
        "event_type": rng.choice(["signup", "purchase", "view", "click",
                                  "error"], n),
        "value": _money(rng, 0.5, 200, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = planted_docs(rng, ROWS["documents"])
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 0.2, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def lineitem(rng, n):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(0, 2500, n) * DAY_US,
                               pa.timestamp("us"))})


def planted_docs(rng, n):
    """n documents, about a tenth of them exact or near copies of others,
    so the dedup, containment and clustering queries find pairs."""
    texts = [_doc_text(rng) for _ in range(n)]
    for i in range(n // 20, n, 10):
        src = texts[rng.integers(0, i)]
        texts[i] = src if rng.random() < 0.3 else _near_copy(rng, src)
    return _docs(np.arange(n), texts, rng)


def refinery_inputs():
    """(corpus, benchmark): unique docs plus fixed shares of exact dups,
    near-dups, contained chunks and benchmark-contaminated docs."""
    rng = np.random.default_rng(BASE_SEED + 1)
    bench_texts = [_doc_text(rng) for _ in range(BENCHMARK_DOCS)]
    benchmark = _docs(np.arange(BENCHMARK_DOCS), bench_texts, rng)
    texts = [_doc_text(rng) for _ in range(REFINERY_UNIQUE)]
    pick = lambda k: rng.choice(REFINERY_UNIQUE, k, replace=False)
    extra = [texts[i] for i in pick(REFINERY_SHARES["exact_dup"])]
    extra += [_near_copy(rng, texts[i])
              for i in pick(REFINERY_SHARES["near_dup"])]
    for i in pick(REFINERY_SHARES["contained"]):
        words = texts[i].split(" ")
        lo = rng.integers(0, max(1, len(words) // 4))
        extra.append(" ".join(words[lo:lo + max(12, len(words) * 3 // 4)]))
    for i in pick(REFINERY_SHARES["contaminated"]):
        b = bench_texts[rng.integers(0, BENCHMARK_DOCS)].split(" ")
        extra.append(texts[i] + ". " + " ".join(b[:max(10, len(b) // 2)]))
    corpus = texts + extra
    return _docs(np.arange(len(corpus)), corpus, rng), benchmark


def stream_documents():
    return documents_table(np.random.default_rng(BASE_SEED + 2), STREAM_DOCS)


def _permuted(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _write(table, path, row_group=100_000):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group)


def generate(workload, seed, out):
    """Write the workload's inputs under ``out``."""
    rng = np.random.default_rng([BASE_SEED, seed])
    if workload == "registry":
        for name, table in base_tables().items():
            _write(_permuted(table, rng), f"{out}/{name}.parquet")
    elif workload == "convert":
        base = base_tables()["lineitem"]
        offsets = rng.integers(0, 1_000_000, REPLICAS)
        parts = []
        for r in range(REPLICAS):
            off = r * 10_000_000 + int(offsets[r])
            parts.append(base.set_column(
                0, "l_orderkey",
                pa.array(base["l_orderkey"].to_numpy() + off, pa.int64())))
        _write(_permuted(pa.concat_tables(parts), rng),
               f"{out}/lineitem_replica.parquet")
        # a one-replica file for the JVM warm-up
        _write(_permuted(base, rng), f"{out}/warmup.parquet")
    elif workload == "refinery":
        _refinery(rng, out)
    elif workload == "stream":
        _stream(rng, out)
    else:
        raise ValueError(f"unknown workload {workload!r}")


def generate_blocks(workload, seed, out):
    """Write the inputs of the blocks a traced run of ``workload`` adds:
    the stream for ``convert``, the refinery corpus for ``registry``."""
    rng = np.random.default_rng([BASE_SEED, seed, 1])
    if workload == "convert":
        _stream(rng, f"{out}/stream")
    elif workload == "registry":
        _refinery(rng, f"{out}/refinery")


def _stream(rng, out):
    """The documents in ascending doc_id order, cut into files at seeded
    points."""
    docs = stream_documents()
    cuts = np.sort(rng.choice(np.arange(1, docs.num_rows),
                              STREAM_FILES - 1, replace=False))
    bounds = [0, *cuts.tolist(), docs.num_rows]
    for k in range(STREAM_FILES):
        part = docs.slice(bounds[k], bounds[k + 1] - bounds[k])
        path = f"{out}/files/part-{k:03d}.parquet"
        _write(part, path)
        # the file source orders new files by modification time
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))


def _refinery(rng, out):
    corpus, benchmark = refinery_inputs()
    _write(_permuted(corpus, rng), f"{out}/corpus.parquet")
    _write(_permuted(benchmark, rng), f"{out}/benchmark.parquet")
    # a small corpus for the JVM warm-up
    _write(corpus.slice(0, 100), f"{out}/warmup.parquet")


def digests(root):
    out = {}
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


def combined_digest(d):
    h = hashlib.sha256()
    for k in sorted(d):
        h.update(f"{k}={d[k]}\n".encode())
    return h.hexdigest()
