"""Independent DuckDB oracles for the benchmark's correctness checks."""
import glob
import os

import duckdb

FLAT_COLS = "op, tbl, pos, ts_ns, user_id, value, event_type"

# Latest-wins over the mergeable rows: per (table, key) the change with the
# highest binlog position, DELETEs kept as tombstones.
LATEST_WINS = f"""
SELECT {FLAT_COLS} FROM (
  SELECT *, row_number() OVER (PARTITION BY tbl, user_id ORDER BY pos DESC) AS rn
  FROM landed WHERE user_id IS NOT NULL AND pos IS NOT NULL AND tbl IS NOT NULL)
WHERE rn = 1"""

VIEW = """
SELECT event_type, count(*) AS n_live,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value
FROM replica WHERE op <> 'DELETE' GROUP BY event_type"""


def connect():
    return duckdb.connect()


def latest_wins(con, landed):
    """Register ``landed`` (an arrow table of flat change rows) and return the
    latest-wins replica as a list of rows ordered by (tbl, user_id)."""
    con.register("landed", landed)
    return con.sql(f"SELECT * FROM ({LATEST_WINS}) ORDER BY tbl, user_id").fetchall()


def _parquet(path):
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    return f"read_parquet({files!r}, hive_partitioning = false)" if files else None


def _diff(con, a, b):
    """Rows of ``a`` missing from ``b`` plus rows of ``b`` missing from ``a``
    (multiset difference)."""
    return con.sql(f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))), "
                   f"(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))").fetchone()


def check_cdc(con, landed, root, check_dir, tables):
    """Failures (empty when correct) of the CDC checks on one pipeline."""
    fails = []
    con.register("landed", landed)
    staged = _parquet(f"{root}/staging")
    if staged is None:
        return ["staging: no files"]
    missing, extra = _diff(
        con, f"SELECT {FLAT_COLS} FROM landed", f"SELECT {FLAT_COLS} FROM {staged}")
    if missing or extra:
        fails.append(f"staging: {missing} rows missing, {extra} unexpected")
    dlq = _parquet(f"{root}/dlq")
    want = f"SELECT {FLAT_COLS} FROM landed WHERE user_id IS NULL OR pos IS NULL OR tbl IS NULL"
    have = f"SELECT {FLAT_COLS} FROM {dlq}" if dlq else f"SELECT * FROM ({want}) WHERE false"
    missing, extra = _diff(con, want, have)
    if missing or extra:
        fails.append(f"dlq: {missing} rows missing, {extra} unexpected")
    for t in tables:
        rep = _parquet(f"{check_dir}/replica_{t}")
        if rep is None:
            fails.append(f"replica {t}: no output")
            continue
        con.execute(f"CREATE OR REPLACE TEMP VIEW replica AS "
                    f"SELECT * FROM ({LATEST_WINS}) WHERE tbl = '{t}'")
        missing, extra = _diff(
            con, f"SELECT {FLAT_COLS} FROM replica", f"SELECT {FLAT_COLS} FROM {rep}")
        if missing or extra:
            fails.append(f"replica {t}: {missing} rows missing, {extra} unexpected")
        view = _parquet(f"{check_dir}/view_{t}")
        have = (f"SELECT event_type, n_live, sum_value FROM {view}" if view
                else "SELECT NULL::VARCHAR, 0::BIGINT, 0::DECIMAL(18,2) WHERE false")
        missing, extra = _diff(con, VIEW, have)
        if missing or extra:
            fails.append(f"view {t}: {missing} groups missing, {extra} unexpected")
    return fails


def _rows(rel):
    """check.py's comparison form: columns sorted by name, rows by repr."""
    cols = rel.columns
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    def norm(v):
        return tuple(norm(x) for x in v) if isinstance(v, list) else v
    rows = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    return ([cols[i] for i in order], [types[i] for i in order],
            sorted(rows, key=lambda r: tuple(map(repr, r))))


def corpus_connection(corpus_dir, tables):
    con = connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


def check_query(con, result_dir, sql):
    """None when the Spark result at ``result_dir`` equals the oracle exactly
    (the comparison tools/check.py makes), else the first difference."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no Spark output"
    scols, stypes, srows = _rows(con.sql(f"SELECT * FROM read_parquet({files!r})"))
    ocols, otypes, orows = _rows(con.sql(sql))
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    if stypes != otypes:
        return f"types spark={stypes} oracle={otypes}"
    if len(srows) != len(orows):
        return f"rowcount spark={len(srows)} oracle={len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            return f"row {i}: spark={a!r} oracle={b!r}"[:300]
    return None


def row_count(path):
    """Rows in the parquet files under ``path`` (0 when there are none)."""
    files = _parquet(path)
    if files is None:
        return 0
    con = connect()
    return con.sql(f"SELECT count(*) FROM {files}").fetchone()[0]
