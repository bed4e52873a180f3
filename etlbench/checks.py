"""Correctness checks, run after the JVM has exited (outside every timed
region). Each returns the set of (operation, round) pairs whose output
disagreed with an independent DuckDB computation.

Query outputs are compared as tools/check.py, the repository's own
comparator, compares them: DuckDB runs each query's oracle SQL
(SparkEntry.oracleSql) over the same corpus parquet, both sides go through
check.py's `norm` (columns sorted by name, floats bit-exact, rows sorted),
and the frames must be equal. DuckDB's normalised answers depend only on
that SQL, the corpus files and check.py, so they are cached in
etlbench/.cache/, keyed by all three; `rm -rf etlbench/.cache` makes the
next run recompute them.
"""
import hashlib
import importlib.util
import json
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CHECK_PY = ROOT / "tools" / "check.py"


def _check_module():
    spec = importlib.util.spec_from_file_location("graft_check", CHECK_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answers(data, oracle_sql, check):
    """Directory holding DuckDB's answer to each oracle query, normalised
    by check.py and pickled; computed once per (SQL, corpus files,
    check.py) and cached."""
    import duckdb
    key = hashlib.sha256(json.dumps(oracle_sql, sort_keys=True).encode())
    key.update(CHECK_PY.read_bytes())
    for p in sorted(Path(data).glob("*.parquet")):
        st = p.stat()
        key.update(f"{p.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    cache = HERE / ".cache" / f"oracle-{key.hexdigest()[:16]}"
    if (cache / "ok").exists():
        return cache
    shutil.rmtree(cache, ignore_errors=True)
    cache.mkdir(parents=True)
    con = duckdb.connect()
    for t in check.TABLES:
        p = Path(data) / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for name, sql in sorted(oracle_sql.items()):
        check.norm(con.sql(sql).arrow().to_pandas()).to_pickle(cache / f"{name}.pkl")
    (cache / "ok").write_text("")
    return cache


def _mismatch(files, b, check):
    """Why Spark's dumped rows differ from DuckDB's normalised answer `b`,
    as check.py decides it; None when they agree."""
    import pandas as pd
    try:
        a = check.norm(pd.concat([pd.read_parquet(f) for f in files]))
    except Exception as e:  # no output, or a cell check.py rejects
        return f"{type(e).__name__}: {e}"
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows, DuckDB {len(b)}"
    return None if a.equals(b) else "rows differ from DuckDB"


def check_queries(data, dump_dir, oracle_sql, last_round):
    """Each query's dumped output (the last round's) against DuckDB."""
    import pandas as pd
    check = _check_module()
    cache = oracle_answers(data, oracle_sql, check)
    wrong = set()
    for name in sorted(oracle_sql):
        why = _mismatch(sorted(Path(dump_dir, name).glob("*.parquet")),
                        pd.read_pickle(cache / f"{name}.pkl"), check)
        if why:
            wrong.add((f"op:{name}", last_round))
            sys.stderr.write(f"[etlbench] {name}: {why}\n")
    return wrong


def _read_probe(path):
    rows = []
    for ln in Path(path).read_text().split("\n")[1:]:
        if ln:
            a, b, c = ln.split(",")
            rows.append((int(a), int(b), float(c)))
    return sorted(rows)


def check_layout(extra, batches, history, last_round):
    """Per epoch e: the live probe equals BM25 computed by DuckDB over the
    epoch's live documents (q169's oracle SQL with `documents` bound to
    them) and hits no removed id; describe's live count is the expected
    one; the as-of probe at the previous generation equals DuckDB over the
    previous epoch's documents (and so the live probe taken then); the
    state table equals the latest version per key over all batches so far.
    After compaction the probe equals the last live probe."""
    import duckdb
    import pyarrow as pa
    probes, sql = Path(extra["probe_dir"]), extra["oracle_sql"]
    con = duckdb.connect()
    bad = set()

    def fail(op, rnd, why):
        bad.add((op, rnd))
        sys.stderr.write(f"[etlbench] round {rnd}: {why}\n")

    want = {}
    for info in extra["epochs"]:
        e = r = info["epoch"]
        live, removed = history[e]
        con.register("documents", pa.table({
            "doc_id": pa.array(sorted(live), pa.int64()),
            "text": [live[i] for i in sorted(live)]}))
        want[e] = sorted((int(a), int(b), float(c))
                         for a, b, c in con.sql(sql).fetchall())
        con.unregister("documents")
        if info["live"] != len(live):
            fail("writers.build" if e == 0 else "writers.delete", r,
                 f"describe: {info['live']} live documents, expected {len(live)}")
        if e == 0:
            continue
        got = _read_probe(probes / f"epoch_{e}_live.csv")
        if got != want[e]:
            fail("writers.probe", r, f"live probe != DuckDB BM25 "
                 f"({len(got)} vs {len(want[e])} rows)")
        if {row[0] for row in got} & removed:
            fail("writers.probe", r, "live probe hit a removed document")
        if _read_probe(probes / f"epoch_{e}_asof.csv") != want[e - 1]:
            fail("writers.asof_probe", r,
                 "as-of probe != the previous generation's documents")
        files = ", ".join(f"'{batches}/epoch_{k}/state.parquet'"
                          for k in range(1, e + 1))
        expect = con.sql(
            f"SELECT doc_id, op, row_hash, version FROM read_parquet([{files}]) "
            "QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) = 1 "
            "ORDER BY doc_id").fetchall()
        state = Path(extra["state_dir"]) / f"v{info['state_version']}"
        got_state = con.sql(
            "SELECT doc_id, op, row_hash, version FROM "
            f"read_parquet('{state}/*.parquet') ORDER BY doc_id").fetchall()
        if got_state != expect:
            fail("writers.state_merge", r, "state table != latest version per key")
    if _read_probe(probes / "compacted_live.csv") != want[max(want)]:
        fail("writers.final_probe", last_round, "compaction moved the probe")
    return bad
