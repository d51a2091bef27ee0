"""Seeded input generators for the three workloads.

Every input comes from one `numpy.random.Generator` seeded with the
run's seed, so the same seed gives byte-identical files. The tables
follow the schema and value domains of the engine's star-schema test
fixtures (a reduced TPC-H: `region nation customer supplier part orders
lineitem`, plus `documents`), scaled by `sf` (sf 1 = 6M lineitem rows).

Corpus rule (llm_dedup): every near-duplicate the generator injects sits
at exact word-3-gram Jaccard >= NEAR_MIN against each member of its
family, or below FAR_MAX. The minhash pipeline stage is checked for
equality with an all-pairs exact-Jaccard oracle at 0.6, so no pair may
land in the band where banded LSH (16 bands x 4 rows) can miss it.
"""
import csv
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NEAR_MIN = 0.85  # LSH miss probability per pair at 0.85: < 1e-5
FAR_MAX = 0.40   # clearly below the 0.5 and 0.6 pipeline thresholds

VOCAB = ("a the data column row table scan filter join group agg sort "
         "hash merge window key value query spark stream batch vector "
         "part order customer line fast slow big small").split()
EXTRA = ("index page block cache flush delta extent segment lock commit "
         "shard replica").split()
LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PWORDS1 = ["blue", "hot", "large", "red", "small", "green", "cold", "dark"]
PWORDS2 = ["ring", "bolt", "nut", "pipe", "gear", "screw", "plate", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = np.datetime64("1970-01-01", "D")
DAY_US = 86_400_000_000


def rng_for(seed, stream):
    """Independent generator per input stream, all fixed by `seed`."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _days(d):
    return int((np.datetime64(d, "D") - EPOCH).astype(int))


def _ts(rng, lo, hi, n):
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _money(rng, lo_cents, hi_cents, n):
    return rng.integers(lo_cents, hi_cents + 1, n) / 100.0


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def star_tables(seed, sf):
    """The seven star-schema tables at scale `sf`, as pyarrow tables."""
    r = rng_for(seed, "star")
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -99_999, 999_999, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(PWORDS1)[r.integers(0, 8, n_part)], " "),
            np.array(PWORDS2)[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 100_000, 50_000_000, n_ord),
        "o_orderdate": _ts(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 90_000, 10_500_000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(r, "1995-01-02", "2001-11-04", n_line)})
    return t


# ---------------------------------------------------------------- corpus

def shingles(text):
    """Word-3-gram set, the tokenizer of the engine's `shingle_set`
    kernel and of the DuckDB oracles (lower-case, whitespace split;
    fewer than 3 tokens -> the whole lower-cased text)."""
    toks = text.lower().split()
    if len(toks) < 3:
        return {text.lower()}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _words(r, n):
    return [VOCAB[i] for i in r.integers(0, len(VOCAB), n)]


def _variant(r, words, edits):
    """Copy of `words` with `edits` single-word substitutions drawn from
    a vocabulary the base text never uses, so each edit removes
    shingles without recreating another doc's."""
    w = list(words)
    for _ in range(edits):
        w[int(r.integers(0, len(w)))] = EXTRA[int(r.integers(0, len(EXTRA)))]
    return w


def _clear(text, pool):
    """True when `text` is at Jaccard >= NEAR_MIN or < FAR_MAX against
    every shingle set in `pool`."""
    s = shingles(text)
    for t in pool:
        jv = len(s & t) / len(s | t)
        if FAR_MAX <= jv < NEAR_MIN:
            return False
    return True


def _doc(doc_id, text, r):
    return {"doc_id": doc_id, "text": text,
            "lang": LANGS[int(r.integers(0, len(LANGS)))],
            "source": f"src{int(r.integers(0, 20))}", "n_chars": len(text)}


def _ids(start, n):
    """`n` doc ids from `start` on that are NOT multiples of 5: batch
    docs take the multiples, which is how the incremental-dedup oracle
    (`doc_id % 5 = 0` is the batch) tells the two apart."""
    out, i = [], start
    while len(out) < n:
        if i % 5:
            out.append(i)
        i += 1
    return out


def corpus(seed, n_docs):
    """Documents with injected exact duplicates and near-dup families.

    Returns (docs, families): `families` lists the doc ids of each
    injected near-dup family (base first) for the generator tests."""
    r = rng_for(seed, "corpus")
    n_base = int(n_docs * 0.8)
    ids = _ids(1, n_docs)
    texts = [" ".join(_words(r, int(r.integers(8, 101)))) for _ in range(n_base)]
    docs = [_doc(ids[i], texts[i], r) for i in range(n_base)]
    families = []
    pool = [shingles(t) for t in texts]
    k = n_base
    while k < n_docs:
        base = int(r.integers(0, n_base))
        words = texts[base].split()
        if r.random() < 0.3 or len(words) < 45:
            docs.append(_doc(ids[k], texts[base], r))  # exact copy
            k += 1
            continue
        fam = [ids[base]]
        for _ in range(min(int(r.integers(1, 4)), n_docs - k)):
            # near (one edit on a long doc) or far (many edits)
            edits = 1 if r.random() < 0.75 else max(8, len(words) // 3)
            cand = " ".join(_variant(r, words, edits))
            if _clear(cand, pool):
                pool.append(shingles(cand))
                docs.append(_doc(ids[k], cand, r))
                fam.append(ids[k])
                k += 1
        families.append(fam)
    return docs, families


def batches(seed, docs, n_batches, size):
    """New-doc batches for `dedupAgainst`: fresh docs, exact copies of
    corpus docs and near/far variants of them, ids multiple of 5."""
    r = rng_for(seed, "batches")
    pool = [shingles(d["text"]) for d in docs]
    out, next_id = [], 5
    for _ in range(n_batches):
        b = []
        for _ in range(size):
            kind = r.random()
            if kind < 0.5:
                text = " ".join(_words(r, int(r.integers(8, 101))))
            else:
                src = docs[int(r.integers(0, len(docs)))]["text"]
                words = src.split()
                if kind < 0.7 or len(words) < 45:
                    text = src
                else:
                    edits = 1 if kind < 0.9 else max(8, len(words) // 3)
                    text = " ".join(_variant(r, words, edits))
                    if not _clear(text, pool):
                        text = src
            b.append(_doc(next_id, text, r))
            next_id += 5
        out.append(b)
    return out


def docs_table(docs):
    return pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": [d["text"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "source": [d["source"] for d in docs],
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64())})


def embeddings(seed, n, dim=64):
    """Small `embeddings` table (float vectors + label)."""
    r = rng_for(seed, "embeddings")
    vecs = r.standard_normal((n, dim)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})


# ---------------------------------------------------------------- dml op log

DML_COLUMNS = [  # (name, DuckDB/MariaDB type)
    ("l_id", "BIGINT"), ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"),
    ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"), ("l_returnflag", "VARCHAR"),
    ("l_linestatus", "VARCHAR"), ("l_shipdate", "DATE")]

READS = [
    "SELECT count(*) AS n, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty, "
    "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS price FROM snap",
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty FROM snap "
    "WHERE l_shipdate < DATE '{d}' GROUP BY l_returnflag, l_linestatus",
    "SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS price, "
    "max(l_id) AS max_id FROM snap WHERE l_orderkey BETWEEN {lo} AND {hi}",
    "SELECT l_linestatus, count(DISTINCT l_partkey) AS parts, "
    "min(l_shipdate) AS first_ship FROM snap "
    "WHERE l_discount >= {disc} GROUP BY l_linestatus",
]


def dml_rows(r, ids, n_orders, n_parts):
    n = len(ids)
    days = r.integers(_days("1995-01-02"), _days("2001-11-04") + 1, n)
    return {
        "l_id": np.asarray(ids, dtype=np.int64),
        "l_orderkey": np.asarray(ids, dtype=np.int64) // 8,
        "l_partkey": r.integers(0, n_parts, n).astype(np.int64),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 90_000, 10_500_000, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": (EPOCH + days).astype("datetime64[D]")}


def dml_base(star):
    """The table the dml workload starts from: a projection of
    lineitem with a unique key `l_id = l_orderkey * 8 + l_linenumber`
    (lineitem's generator may repeat (orderkey, linenumber); only the
    first occurrence of an id is kept)."""
    li = star["lineitem"]
    ok = li.column("l_orderkey").to_numpy()
    ln = li.column("l_linenumber").to_numpy().astype(np.int64)
    lid = ok * 8 + ln
    _, first = np.unique(lid, return_index=True)
    first.sort()
    ship = li.column("l_shipdate").to_numpy().astype("datetime64[D]")
    cols = {
        "l_id": lid[first], "l_orderkey": ok[first],
        "l_partkey": li.column("l_partkey").to_numpy()[first],
        "l_quantity": li.column("l_quantity").to_numpy()[first],
        "l_extendedprice": li.column("l_extendedprice").to_numpy()[first],
        "l_discount": li.column("l_discount").to_numpy()[first],
        "l_returnflag": li.column("l_returnflag").to_numpy(zero_copy_only=False)[first],
        "l_linestatus": li.column("l_linestatus").to_numpy(zero_copy_only=False)[first],
        "l_shipdate": ship[first]}
    return pa.table(cols)


ROUND_MIX = ["read"] * 12 + ["insert", "update", "delete", "merge"] * 3


def dml_oplog(seed, base, out_dir, n_rounds):
    """Seeded op stream for dml_mix, written as `oplog.jsonl` plus the
    insert batches (parquet) and merge sources (CSV, one malformed line
    each) it names. Each round opens with `optimize` and closes with
    `vacuum`; in between runs ROUND_MIX in a seeded order, with the
    read templates taken in turn, so every round has the same
    composition and seeds differ in order and parameters only."""
    r = rng_for(seed, "dml")
    n_orders = int(base.column("l_orderkey").to_numpy().max()) + 1
    n_parts = int(base.column("l_partkey").to_numpy().max()) + 1
    next_id = int(base.column("l_id").to_numpy().max()) + 1
    live_hi = next_id
    ops = []
    for _ in range(n_rounds):
        ops.append({"op": "optimize", "files": 4})
        reads = 0
        for kind in [ROUND_MIX[i] for i in r.permutation(len(ROUND_MIX))]:
            n = len(ops)
            if kind == "read":
                k = reads % len(READS)
                reads += 1
                lo = int(r.integers(0, n_orders))
                d = str(EPOCH + int(r.integers(_days("1995-06-01"), _days("2001-06-01"))))
                sql = READS[k].format(d=d, lo=lo, hi=lo + n_orders // 20,
                                      disc=int(r.integers(0, 10)) / 100.0)
                ops.append({"op": "read", "sql": sql})
            elif kind == "insert":
                ids = list(range(next_id, next_id + 500))
                next_id += 500
                path = f"insert_{n:05d}.parquet"
                write_parquet(pa.table(dml_rows(r, ids, n_orders, n_parts)),
                              os.path.join(out_dir, path))
                ops.append({"op": "insert", "path": path})
            elif kind == "update":
                m, k = int(r.integers(50, 120)), int(r.integers(0, 50))
                ops.append({"op": "update",
                            "cond": f"l_orderkey % {m} = {k}",
                            "set": {"l_quantity": "l_quantity + 1",
                                    "l_linestatus": "'U'"}})
            elif kind == "delete":
                m, k = int(r.integers(200, 400)), int(r.integers(0, 200))
                ops.append({"op": "delete",
                            "cond": f"l_orderkey % {m} = {k} AND l_quantity < 25"})
            else:
                old = r.integers(0, live_hi, 300)
                ids = sorted(set(old.tolist()) | set(range(next_id, next_id + 200)))
                next_id += 200
                path = f"merge_{n:05d}.csv"
                rows = dml_rows(r, ids, n_orders, n_parts)
                bad = _write_csv(rows, os.path.join(out_dir, path), r)
                ops.append({"op": "merge", "path": path, "rows": len(ids),
                            "rejected": bad})
        ops.append({"op": "vacuum", "keep": 1})
    with open(os.path.join(out_dir, "oplog.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
    return ops


def _write_csv(rows, path, r):
    """cpimport-style CSV (no header); one malformed line (a quantity
    that is not a number) is placed at a seeded position and must be
    rejected by the importer."""
    n = len(rows["l_id"])
    bad_at = int(r.integers(0, n))
    names = [c for c, _ in DML_COLUMNS]
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        for i in range(n):
            row = [rows[c][i] for c in names]
            row = [repr(float(v)) if isinstance(v, np.floating) else str(v) for v in row]
            if i == bad_at:
                bad = list(row)
                bad[names.index("l_quantity")] = "n/a"
                w.writerow(bad)
            w.writerow(row)
    return 1


# ---------------------------------------------------------------- entry

def manifest(dir_):
    """Row count (parquet, csv, jsonl) and sha256 of every input file."""
    out = {}
    for root, _, files in os.walk(dir_):
        for name in sorted(files):
            p = os.path.join(root, name)
            rel = os.path.relpath(p, dir_)
            h = hashlib.sha256()
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
            if name.endswith(".parquet"):
                rows = pq.ParquetFile(p).metadata.num_rows
            else:
                with open(p, "rb") as f:
                    rows = sum(1 for _ in f)
            out[rel] = {"rows": rows, "sha256": h.hexdigest()}
    return dict(sorted(out.items()))
