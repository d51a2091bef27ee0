"""DuckDB check of a run's results, after the timed window.

`olap` and `llm_dedup` results are compared with DuckDB running the
matching `SparkEntry` oracle SQL over the same generated inputs;
`dml_mix` is checked by replaying the executed prefix of the op log in
DuckDB and comparing every read and the final table. Comparison is
exact and order-insensitive: columns by name, rows as a multiset.

Every check returns the number of wrong results it found, so a
corrupted result raises the run's error rate.
"""
import datetime
import decimal
import json
import os

import duckdb

from gen import DML_COLUMNS


def _num(x):
    s = str(decimal.Decimal(repr(x) if isinstance(x, float) else x).normalize())
    return ("n", s)


def canon(v):
    """Engine-independent form of one cell. Numbers compare by exact
    value across int/decimal/double; timestamps and dates as ISO text."""
    if v is None:
        return ("z", "")
    if isinstance(v, bool):
        return ("b", str(v))
    if isinstance(v, dict):  # tagged cells from the Spark dump
        if "dec" in v:
            return _num(decimal.Decimal(v["dec"]))
        if "ts" in v:
            return ("t", v["ts"])
        if "date" in v:
            return ("d", v["date"])
        if "f" in v:
            return ("n", v["f"].replace("Infinity", "Inf"))
        return ("s", json.dumps(v, sort_keys=True))  # DuckDB struct
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
            return ("n", {"nan": "NaN"}.get(repr(v), "Inf" if v > 0 else "-Inf"))
        return _num(v)
    if isinstance(v, datetime.datetime):
        return ("t", v.strftime("%Y-%m-%dT%H:%M:%S.%f"))
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    return ("s", str(v))


def table(columns, rows):
    """(sorted column names, sorted canonical rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


def load_dump(path):
    with open(path) as f:
        d = json.load(f)
    return table(d["columns"], d["rows"])


def query(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return table(cols, cur.fetchall())


def same(got, want):
    """None when equal, else a short reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} vs {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"row {a} vs {b}"
    return None


def _views(con, d):
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            p = os.path.join(d, f).replace("'", "''")
            con.execute(f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{p}')")


def _wrong_runs(digests, ok):
    """Executions whose result is wrong: all of them when the checked
    (first) result is wrong, else those whose digest differs from it."""
    if not ok:
        return len(digests)
    return sum(1 for d in digests if d != digests[0])


def check_olap(data, out, extra, log):
    con = duckdb.connect()
    _views(con, os.path.join(data, "star"))
    wrong = 0
    for name, c in sorted(extra["checks"].items()):
        why = same(load_dump(os.path.join(out, "results", f"{name}.json")),
                   query(con, c["oracle"]))
        if why:
            log(f"WRONG {name}: {why}")
        wrong += _wrong_runs(c["digests"], why is None)
    return wrong


def check_llm(data, out, extra, log):
    con = duckdb.connect()
    docs = os.path.join(data, "docs", "documents.parquet")
    con.execute(f"CREATE TABLE corpus AS SELECT * FROM read_parquet('{docs}')")
    con.execute("CREATE VIEW documents AS SELECT * FROM corpus")
    wrong = 0
    for fn, c in sorted(extra["stages"].items()):
        why = same(load_dump(os.path.join(out, "results", f"{fn}.json")),
                   query(con, c["oracle"]))
        if why:
            log(f"WRONG {fn}: {why}")
        wrong += _wrong_runs(c["digests"], why is None)
    for name, digests in sorted(extra["batches"].items()):
        # the incremental oracle takes the batch as the documents whose
        # id is a multiple of 5; the generator gives only batch docs such ids
        p = os.path.join(data, "batches", f"{name}.parquet")
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM corpus "
                    f"UNION ALL SELECT * FROM read_parquet('{p}')")
        why = same(load_dump(os.path.join(out, "results", f"{name}.json")),
                   query(con, extra["incremental_oracle"]))
        if why:
            log(f"WRONG dedupAgainst {name}: {why}")
        wrong += _wrong_runs(digests, why is None)
    return wrong


def check_dml(data, out, extra, log, changed=None):
    """Replays the executed ops; `changed` (a list) receives the row
    count each write changed, for the write-amplification ratio."""
    dml = os.path.join(data, "dml")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{dml}/dml_base.parquet')")
    con.execute("CREATE VIEW snap AS SELECT * FROM t")
    cols = "{" + ", ".join(f"'{c}': '{ty}'" for c, ty in DML_COLUMNS) + "}"
    with open(os.path.join(dml, "oplog.jsonl")) as f:
        ops = [json.loads(line) for line in f][:extra["executed_ops"]]
    reads = set(extra["reads"])
    imports = {i["op"]: i for i in extra["ingest"]}
    wrong = 0
    for i, op in enumerate(ops):
        kind = op["op"]
        n = 0
        if kind == "read" and i in reads:
            why = same(load_dump(os.path.join(out, "results", f"read_{i:05d}.json")),
                       query(con, op["sql"]))
            if why:
                log(f"WRONG read op {i}: {why}")
                wrong += 1
        elif kind == "insert":
            n = con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{dml}/{op['path']}')").fetchone()[0]
        elif kind == "update":
            sets = ", ".join(f"{k} = {v}" for k, v in sorted(op["set"].items()))
            n = con.execute(f"UPDATE t SET {sets} WHERE {op['cond']}").fetchone()[0]
        elif kind == "delete":
            n = con.execute(f"DELETE FROM t WHERE {op['cond']}").fetchone()[0]
        elif kind == "merge":
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM read_csv("
                f"'{dml}/{op['path']}', columns={cols}, header=false, "
                "auto_detect=false, ignore_errors=true)")
            loaded = con.execute("SELECT count(*) FROM src").fetchone()[0]
            imp = imports.get(i)
            if imp and (imp["rows"] != loaded or imp["rejected"] != op["rejected"]):
                log(f"WRONG import op {i}: loaded {imp['rows']} rejected {imp['rejected']}, "
                    f"expected {loaded} and {op['rejected']}")
                wrong += 1
            con.execute("DELETE FROM t WHERE l_id IN (SELECT l_id FROM src)")
            con.execute("INSERT INTO t SELECT * FROM src")
            n = loaded
        if changed is not None and kind in ("insert", "update", "delete", "merge"):
            changed.append(n)
    final = os.path.join(out, "final_snapshot")
    got = query(con, f"SELECT * FROM read_parquet('{final}/*.parquet')")
    why = same(got, query(con, "SELECT * FROM t"))
    if why:
        log(f"WRONG final table: {why}")
        wrong += 1
    return wrong


CHECKS = {"olap": check_olap, "llm_dedup": check_llm, "dml_mix": check_dml}
