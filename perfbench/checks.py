"""Output checks of the benchmark, against DuckDB as the independent engine.

Batch queries: each result the harness wrote in its untimed check pass
is compared with the DuckDB answer to the query's oracle SQL over the
same parquet inputs. The rule is the repository's correctness gate:
same column names, same Arrow types, same row count, exact values
(columns sorted by name, rows sorted).

DuckDB answers are cached under perfbench/work/oracle_cache, keyed by
the oracle SQL text and the bytes of every input table, and computed
when a check first needs them: `rm -rf perfbench/work/oracle_cache`
rebuilds them all on the next run. A query whose check-pass result is
missing (it threw there) is a problem: its answer was never checked.

Ingest: the appended table, the screen decisions and the
partition-filtered read are checked against DuckDB over the source
parquet.
"""
import decimal
import glob
import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.dataset as pads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work",
                     "oracle_cache")


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def canonical(table):
    """(sorted column names, {column: Arrow type}, sorted rows)."""
    cols = sorted(table.column_names)
    types = {c: str(table.schema.field(c).type) for c in cols}
    rows = [tuple(_norm(r[c]) for c in cols) for r in table.to_pylist()]
    return cols, types, sorted(rows, key=lambda r: tuple(str(x) for x in r))


def compare(got, want):
    """None when `got` equals `want` under the gate's rule, else why not."""
    gcols, gtypes, grows = canonical(got)
    wcols, wtypes, wrows = canonical(want)
    if gcols != wcols:
        return f"columns differ: got {gcols}, want {wcols}"
    tdiff = {c: (gtypes[c], wtypes[c]) for c in gcols if gtypes[c] != wtypes[c]}
    if tdiff:
        return f"Arrow types differ: {tdiff}"
    if len(grows) != len(wrows):
        return f"row count: got {len(grows)}, want {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if g != w:
            return f"row {i} differs: got {g!r}, want {w!r}"
    return None


def connect(sfdir, tables=TABLES):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t in tables:
        p = os.path.join(sfdir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


class Oracle:
    """DuckDB answers over one data directory, cached on disk."""

    def __init__(self, sfdir):
        self.sfdir = sfdir
        self.con = None
        h = hashlib.sha256()
        for t in TABLES:
            p = os.path.join(sfdir, f"{t}.parquet")
            if os.path.exists(p):
                with open(p, "rb") as f:
                    h.update(t.encode() + hashlib.sha256(f.read()).digest())
        self.inputs = h.hexdigest()

    def answer(self, sql):
        key = hashlib.sha256((self.inputs + "\0" + sql).encode()).hexdigest()
        path = os.path.join(CACHE, f"{key}.arrow")
        if os.path.exists(path):
            with pa.memory_map(path) as src:
                return pa.ipc.open_file(src).read_all()
        if self.con is None:
            self.con = connect(self.sfdir)
        table = self.con.sql(sql).arrow()
        if not isinstance(table, pa.Table):
            table = table.read_all()
        os.makedirs(CACHE, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with pa.OSFile(tmp, "wb") as sink:
            with pa.ipc.new_file(sink, table.schema) as w:
                w.write_table(table)
        os.replace(tmp, path)
        return table


def check_batch(run, sfdir):
    """Problems found in a batch run's outputs, and their total rows."""
    oracle = Oracle(sfdir)
    checked = {out["name"] for out in run["outputs"]}
    problems = [f"{name}: no result to check (its check pass failed)"
                for name in run["order"] if name not in checked]
    rows = 0
    for out in run["outputs"]:
        got = pads.dataset(out["dir"]).to_table()
        rows += got.num_rows
        if out["oracle"] is None:
            problems.append(f"{out['name']}: no oracle SQL")
            continue
        why = compare(got, oracle.answer(out["oracle"]))
        if why:
            problems.append(f"{out['name']}: {why}")
    return problems, rows


def _close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def check_ingest_round(rnd, con):
    """Problems in one ingest round, against DuckDB over the sources."""
    problems = []
    src = {str(d): (n, s) for d, n, s in con.sql(
        "SELECT CAST(ts AS DATE) AS d, count(*), sum(value) FROM events "
        "GROUP BY d").fetchall()}
    appended = os.path.join(rnd["appended"], "**", "*.parquet")
    got = {str(d): (n, s) for d, n, s in con.sql(
        f"SELECT date, count(*), sum(value) FROM read_parquet('{appended}', "
        "hive_partitioning = true) GROUP BY date").fetchall()}
    if set(got) != set(src):
        problems.append(f"appended dates differ: {sorted(set(got) ^ set(src))}")
    for d in sorted(set(got) & set(src)):
        if got[d][0] != src[d][0] or not _close(got[d][1], src[d][1]):
            problems.append(f"appended {d}: got {got[d]}, want {src[d]}")

    read = {r["date"]: (r["n"], r["value_sum"]) for r in rnd["read_rows"]}
    want = {d: v for d, v in src.items()
            if rnd["read_from"] <= d <= rnd["read_to"]}
    if set(read) != set(want):
        problems.append(f"partition read dates differ: {sorted(set(read) ^ set(want))}")
    for d in sorted(set(read) & set(want)):
        if read[d][0] != want[d][0] or not _close(read[d][1], want[d][1]):
            problems.append(f"partition read {d}: got {read[d]}, want {want[d]}")

    decisions = glob.glob(os.path.join(rnd["decisions"], "v_*", "*.parquet"))
    if not decisions:
        return problems + ["no screen decisions"]
    dec = con.sql(
        "SELECT doc_id, is_dup, dup_of, batch_id FROM read_parquet($files)",
        params={"files": decisions}).fetchall()
    docs = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    ids = [r[0] for r in dec]
    if len(ids) != len(set(ids)) or set(ids) != set(docs):
        problems.append(f"{len(ids)} decisions for {len(set(ids))} distinct docs, "
                        f"want one per each of {len(docs)} docs")
    batch = {r[0]: r[3] for r in dec}
    first = {}
    for doc, b in sorted(batch.items(), key=lambda kv: (kv[1], kv[0])):
        first.setdefault(docs.get(doc), b)
    for doc, is_dup, dup_of, b in dec:
        if first.get(docs.get(doc), b) < b and not is_dup:
            problems.append(f"doc {doc} repeats an earlier doc's text "
                            "but is not flagged is_dup")
        if is_dup and not (dup_of in batch and batch[dup_of] < b):
            problems.append(f"doc {doc}: dup_of {dup_of} is not an earlier doc")
    return problems


def check_ingest(run, sfdir):
    con = connect(sfdir, ["events", "documents"])
    problems = []
    for rnd in run["passes"]:
        problems += [f"round {os.path.basename(rnd['dir'])}: {p}"
                     for p in check_ingest_round(rnd, con)]
    return problems, run["rows"]
