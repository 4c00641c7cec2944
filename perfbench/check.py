"""Output checks, computed apart from the program with DuckDB.

Each check replays the generated inputs (or evaluates a registry query's
DuckDB oracle) and compares the result with what the program wrote.
Every function returns a list of failure messages; empty means correct.
"""
import json
import math
import os

import duckdb

# masking recomputed in SQL: HASH is sha256 hex; MASK-STRING-SKIP-ENDS-3
# keeps three characters at each end of values longer than six and stars
# the rest, and stars the whole of shorter values
ORDERS_WANT = """
SELECT id, customer, sha256(email) AS email,
       CASE WHEN length(card) > 6
            THEN left(card, 3) || repeat('*', length(card) - 6) || right(card, 3)
            ELSE repeat('*', length(card)) END AS card,
       amount_cents, status, updated_at
FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY updated_at DESC)
        AS rn FROM src)
WHERE rn = 1
"""

ORDER_COLS = "id, customer, email, card, amount_cents, status, updated_at"
ACCOUNT_COLS = "id, name, balance, tier"

# wal2json v2 lines decoded by name, not by position
WAL_EVENTS = """
CREATE TABLE ev AS
WITH lines AS (
  SELECT unnest(string_split(content, chr(10))) AS line
  FROM read_text('{wal}/*.wal')),
parsed AS (
  SELECT CAST(split_part(line, chr(9), 1) AS BIGINT) AS lsn,
         substr(line, strpos(line, chr(9)) + 1) AS j
  FROM lines WHERE line <> ''),
typed AS (
  SELECT lsn, j ->> '$.action' AS action, j ->> '$.schema' AS sch,
         j ->> '$.table' AS tbl,
         from_json(coalesce(j -> '$.columns', j -> '$.identity'),
                   '[{{"name":"VARCHAR","value":"VARCHAR"}}]') AS kv
  FROM parsed)
SELECT lsn, action, sch, tbl,
  CAST(list_filter(kv, x -> x.name = 'id')[1].value AS BIGINT) AS id,
  list_filter(kv, x -> x.name = 'name')[1].value AS name,
  CAST(list_filter(kv, x -> x.name = 'balance')[1].value AS BIGINT) AS balance,
  list_filter(kv, x -> x.name = 'tier')[1].value AS tier
FROM typed
"""


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def _both_ways(con, want, got, what):
    errs = []
    for a, b, side in ((want, got, "missing from"), (got, want, "extra in")):
        n = con.execute(
            f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        if n:
            errs.append(f"{what}: {n} rows {side} the target")
    return errs


def _slot(path, last_lsn, what):
    with open(path) as f:
        lsn = int(f.read().strip())
    if lsn != last_lsn:
        return [f"{what}: confirmed-flush LSN {lsn} != last LSN {last_lsn}"]
    return []


def _accounts(con, source, wal, target, last_lsn, slot):
    """Snapshot plus the wal2json event log, last event per key by LSN,
    deletes applied; compared with the hard-delete target."""
    con.execute("DROP TABLE IF EXISTS ev")
    con.execute(WAL_EVENTS.format(wal=wal))
    errs = []
    max_lsn = con.execute("SELECT max(lsn) FROM ev").fetchone()[0]
    if max_lsn != last_lsn:
        errs.append(f"event log ends at {max_lsn}, generator said {last_lsn}")
    errs += _slot(slot, last_lsn, "slot")
    con.execute(f"""
      CREATE OR REPLACE VIEW snap AS
        SELECT {ACCOUNT_COLS} FROM read_parquet('{source}/*.parquet');
      CREATE OR REPLACE VIEW rows_ev AS SELECT * FROM ev
        WHERE sch = 'public' AND tbl = 'accounts'
          AND action IN ('I', 'U', 'D');
      CREATE OR REPLACE VIEW last_ev AS SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY lsn DESC)
          AS rn FROM rows_ev) WHERE rn = 1;
      CREATE OR REPLACE VIEW want AS
        SELECT {ACCOUNT_COLS} FROM snap
          WHERE id NOT IN (SELECT id FROM last_ev)
        UNION ALL
        SELECT {ACCOUNT_COLS} FROM last_ev WHERE action <> 'D';
      CREATE OR REPLACE VIEW got AS
        SELECT {ACCOUNT_COLS} FROM read_parquet('{target}/**/*.parquet');
    """)
    errs += _both_ways(con, "SELECT * FROM want", "SELECT * FROM got",
                       "accounts")
    snap, ins, dels, got = con.execute("""
      SELECT (SELECT count(*) FROM snap),
             (SELECT count(DISTINCT id) FROM rows_ev WHERE action = 'I'),
             (SELECT count(DISTINCT id) FROM rows_ev WHERE action = 'D'),
             (SELECT count(*) FROM got)""").fetchone()
    if got != snap + ins - dels:
        errs.append(f"accounts: {got} rows != {snap} snapshot + {ins} "
                    f"inserted - {dels} deleted")
    return errs


def check_replicate(inputs, facts, rounds, cdc):
    """The orders targets of every round, the round's bookmark, and the
    one accounts target the slot stream drained into."""
    con = _connect()
    errs = []
    con.execute(f"""CREATE VIEW src AS SELECT * FROM read_parquet(
      ['{inputs}/source/orders/*.parquet',
       '{inputs}/orders_changes/*.parquet'])""")
    con.execute(f"CREATE TABLE want_orders AS {ORDERS_WANT}")
    want_rows, max_rk = con.execute(
        "SELECT count(*), (SELECT max(updated_at) FROM src) "
        "FROM want_orders").fetchone()
    for r in rounds:
        tag = os.path.basename(r)
        got = f"SELECT {ORDER_COLS} FROM read_parquet('{r}/target/orders/**/*.parquet')"
        errs += [f"{tag} {e}" for e in _both_ways(
            con, f"SELECT {ORDER_COLS} FROM want_orders", got, "orders")]
        n = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
        if n != want_rows:
            errs.append(f"{tag} orders: {n} rows, want {want_rows}")
        with open(f"{r}/state/orders.json") as f:
            bm = json.load(f)["bookmarks"]["public-orders"]
        if bm.get("replication_key_value") != max_rk:
            errs.append(f"{tag} bookmark {bm} != max updated_at {max_rk}")
    errs += _accounts(con, f"{inputs}/source/accounts", f"{inputs}/wal",
                      f"{cdc}/target/accounts", facts["last_lsn"],
                      f"{cdc}/slot/confirmed_flush_lsn")
    # and the generator's own last-write-wins replay
    errs += _both_ways(
        con, f"SELECT {ACCOUNT_COLS} FROM read_parquet("
             f"'{inputs}/expected/accounts.parquet')",
        f"SELECT {ACCOUNT_COLS} FROM read_parquet("
        f"'{cdc}/target/accounts/**/*.parquet')",
        "accounts vs generator replay")
    return errs


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v.hex()
                              if isinstance(v, (bytes, bytearray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          na_position="first")


def _same(x, y):
    if x is None and y is None:
        return True
    xnan = isinstance(x, float) and math.isnan(x)
    ynan = isinstance(y, float) and math.isnan(y)
    if (x is None and ynan) or (y is None and xnan) or (xnan and ynan):
        return True
    if isinstance(x, float) and isinstance(y, float):
        return x == y
    return str(x) == str(y)


def _compare(spark_df, oracle_df):
    """The registry's oracle comparison: same columns, same multiset of
    rows, values equal exactly (floats included)."""
    a, b = _canon(spark_df), _canon(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not _same(x, y):
                return f"col {c} row {i}: {x!r} != oracle {y!r}"
    return None


def check_curate(inputs, results, oracle_sql):
    import pandas as pd
    con = _connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{inputs}/documents.parquet')")
    errs = []
    for q, sql in oracle_sql.items():
        files = [os.path.join(f"{results}/{q}", f)
                 for f in sorted(os.listdir(f"{results}/{q}"))
                 if f.endswith(".parquet")]
        got = pd.concat([pd.read_parquet(f) for f in files],
                        ignore_index=True)
        bad = _compare(got, con.execute(sql).df())
        if bad:
            errs.append(f"{q}: {bad}")
    return errs
