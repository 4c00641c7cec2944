"""Seeded input generator for the replication benchmark.

Every input the program sees is written here, from one seed, in one
process: parquet source tables, INCREMENTAL change files, wal2json slot
segments and an LLM-data `documents` table. The same seed gives the same
bytes. Besides the inputs it writes the facts the output checks need that
the program never sees (the last generated LSN, the expected final state
of the LOG_BASED target).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ["new", "paid", "shipped", "returned", "cancelled"]
TIERS = ["free", "basic", "pro", "enterprise"]

# The `documents` table copies the make-up of the repo's sf0.1 fixture
# (5,000 rows), measured on that fixture: words drawn uniformly and
# independently from this 30-word vocabulary, 10-100 words a document
# (uniform), 5.0 % near-duplicates (another document's text plus the word
# `dup`), 0.16 % exact copies, `lang` drawn independently of the text
# with these shares, `source` = src<row % 20>, `n_chars` = len(text).
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]
NEAR_DUP_SHARE, EXACT_DUP_SHARE = 0.05, 0.0016

# The slot stream. Each transaction has the shape of pgbench's built-in
# TPC-B-like script, the standard PostgreSQL write load: one change to an
# account, then an update of a teller and of a branch and an insert into
# the history table, between BEGIN and COMMIT. The pipeline selects only
# the accounts table, so three of every four row lines are for tables it
# does not select. pgbench only updates accounts; the action on the
# account follows the repo's own slot-throughput probe
# (graft.tools.StressWalTail): 4 % deletes, and 1 in 7 of the rest
# inserts. Keys are drawn uniformly over the live accounts, as pgbench
# draws them, and an update adds a delta in [-5000, 5000] to the balance.
DELETE_SHARE, INSERT_SHARE = 0.04, 0.96 / 7
TELLERS = 10  # pgbench's tellers a branch; one branch
SCHEMA, TABLE = "public", "accounts"


def _write(table: dict, path: str, types: dict):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    arrays = {k: pa.array(v, type=types[k]) for k, v in table.items()}
    pq.write_table(pa.table(arrays), path)


ORDER_TYPES = {"id": pa.int64(), "customer": pa.string(),
               "email": pa.string(), "card": pa.string(),
               "amount_cents": pa.int64(), "status": pa.string(),
               "updated_at": pa.int64()}
ACCOUNT_TYPES = {"id": pa.int64(), "name": pa.string(),
                 "balance": pa.int64(), "tier": pa.string()}


def _orders(rng, ids, first_rk):
    n = len(ids)
    cards = rng.integers(10 ** 15, 10 ** 16, n).astype(str)
    short = rng.random(n) < 0.05  # short values take the all-stars branch
    cards = np.where(short, rng.integers(1000, 999999, n).astype(str), cards)
    return {
        "id": ids.tolist(),
        "customer": [f"cust-{c}" for c in rng.integers(0, 50_000, n)],
        "email": [f"user{u}@mail{u % 97}.example"
                  for u in rng.integers(0, 10 ** 9, n)],
        "card": cards.tolist(),
        "amount_cents": rng.integers(100, 10 ** 7, n).tolist(),
        "status": rng.choice(STATUSES, n).tolist(),
        "updated_at": (first_rk + np.arange(n)).tolist(),
    }


def gen_orders(rng, out, snapshot_rows, change_files, change_rows):
    """Snapshot plus change files. No traffic source is modelled here:
    the mix only selects code paths. Each file's keys fall in every
    target bucket (measured as `sink.change_touched_buckets`), so every
    INCREMENTAL run takes the sink's whole-layout rewrite whatever the
    split of updates of existing keys (75 %) and new keys (25 %); 5 % of
    each file's keys appear twice, the later version winning on
    `updated_at`, so the dedup window drops rows; 5 % of the cards are
    short, so the mask stars them whole. Replication-key values are
    unique and increasing."""
    ids = rng.permutation(snapshot_rows).astype(np.int64)
    snap = _orders(rng, ids, 1)
    _write(snap, f"{out}/source/orders/part-00000.parquet", ORDER_TYPES)
    rk = snapshot_rows + 1
    next_id = snapshot_rows
    for k in range(change_files):
        n_ins = change_rows // 4
        n_dup = change_rows // 20
        n_upd = change_rows - n_ins - n_dup
        upd = rng.choice(next_id, n_upd, replace=False)
        ins = np.arange(next_id, next_id + n_ins)
        next_id += n_ins
        base = np.concatenate([upd, ins]).astype(np.int64)
        dup = rng.choice(base, n_dup, replace=False).astype(np.int64)
        keys = np.concatenate([rng.permutation(base), dup])
        rows = _orders(rng, keys, rk)
        rk += len(keys)
        _write(rows, f"{out}/orders_changes/inc-{k:04d}.parquet",
               ORDER_TYPES)
    return {"orders_snapshot_rows": snapshot_rows,
            "orders_change_rows": change_files * change_rows}


def _account(rng, i):
    return {"id": int(i), "name": f"acct-{rng.integers(0, 10 ** 6)}",
            "balance": int(rng.integers(-10 ** 5, 10 ** 7)),
            "tier": TIERS[int(rng.integers(0, len(TIERS)))]}


def gen_accounts_snapshot(rng, out, rows):
    ids = rng.permutation(rows)
    acc = [_account(rng, i) for i in ids]
    _write({k: [a[k] for a in acc] for k in ACCOUNT_TYPES},
           f"{out}/source/accounts/part-00000.parquet", ACCOUNT_TYPES)
    return {a["id"]: a for a in acc}


def _col(name, typ, value):
    return {"name": name, "type": typ, "value": value}


def _row_line(action, acc):
    if action == "D":
        return {"action": "D", "schema": SCHEMA, "table": TABLE,
                "identity": [_col("id", "bigint", acc["id"])]}
    return {"action": action, "schema": SCHEMA, "table": TABLE,
            "columns": [_col("id", "bigint", acc["id"]),
                        _col("name", "text", acc["name"]),
                        _col("balance", "bigint", acc["balance"]),
                        _col("tier", "text", acc["tier"])]}


class WalWriter:
    """Writes `<lsn>\\t<wal2json v2 line>` segments, one pgbench-shaped
    transaction at a time, and keeps a last-write-wins replay of the
    selected table."""

    def __init__(self, rng, state, next_id):
        self.rng, self.state, self.next_id = rng, state, next_id
        self.live = list(state)  # the keys of `state`, for uniform draws
        self.lsn = 1_000_000
        self.xid = 5000
        self.events = 0
        self.segments = 0

    def _emit(self, lines, obj):
        # LSNs only have to rise: the program orders by them and the
        # slot check compares the last one
        self.lsn += int(self.rng.integers(1, 64))
        lines.append(f"{self.lsn}\t{json.dumps(obj, separators=(',', ':'))}")

    def _account_change(self):
        rng, live = self.rng, self.live
        r = rng.random()
        if r < INSERT_SHARE:
            acc = _account(rng, self.next_id)
            self.next_id += 1
            self.state[acc["id"]] = acc
            live.append(acc["id"])
            return "I", acc
        k = int(rng.integers(0, len(live)))
        key = live[k]
        if r < INSERT_SHARE + DELETE_SHARE:
            live[k] = live[-1]
            live.pop()
            return "D", self.state.pop(key)
        acc = dict(self.state[key])
        acc["balance"] += int(rng.integers(-5000, 5001))
        self.state[key] = acc
        return "U", acc

    def segment(self, out, row_events):
        """Write the next segment, of `row_events` account changes (one a
        transaction); returns its file name."""
        rng, lines = self.rng, []
        for _ in range(row_events):
            self.xid += 1
            action, acc = self._account_change()
            delta = int(rng.integers(-5000, 5001))
            tid = int(rng.integers(1, TELLERS + 1))
            self._emit(lines, {"action": "B", "xid": self.xid})
            self._emit(lines, _row_line(action, acc))
            self._emit(lines, {
                "action": "U", "schema": SCHEMA, "table": "pgbench_tellers",
                "columns": [_col("tid", "integer", tid),
                            _col("bid", "integer", 1),
                            _col("tbalance", "integer", delta)]})
            self._emit(lines, {
                "action": "U", "schema": SCHEMA, "table": "pgbench_branches",
                "columns": [_col("bid", "integer", 1),
                            _col("bbalance", "integer", delta)]})
            self._emit(lines, {
                "action": "I", "schema": SCHEMA, "table": "pgbench_history",
                "columns": [_col("tid", "integer", tid),
                            _col("bid", "integer", 1),
                            _col("aid", "integer", acc["id"]),
                            _col("delta", "integer", delta),
                            _col("mtime", "timestamp without time zone",
                                 f"2024-01-01 00:00:{self.xid % 60:02d}")]})
            self._emit(lines, {"action": "C", "xid": self.xid})
        name = f"seg-{self.segments:06d}.wal"
        self.segments += 1
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        self.events += row_events
        return name


def gen_documents(rng, out, docs):
    """The `documents` table with the sf0.1 fixture's make-up (see WORDS):
    every text drawn first, then fixed shares of the rows overwritten with
    a near-duplicate or an exact copy of another row, chosen anywhere in
    the table."""
    texts = [" ".join(rng.choice(WORDS, n))
             for n in rng.integers(10, 101, docs)]
    n_near = round(docs * NEAR_DUP_SHARE)
    n_exact = max(1, round(docs * EXACT_DUP_SHARE))
    rows = rng.choice(docs, n_near + n_exact, replace=False)
    for k, i in enumerate(sorted(rows)):
        j = int(rng.integers(0, docs - 1))
        j += j >= i  # another row
        texts[i] = texts[j] + " dup" if k < n_near else texts[j]
    _write({"doc_id": list(range(docs)), "text": texts,
            "lang": rng.choice(LANGS, docs, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": [len(t) for t in texts]},
           f"{out}/documents.parquet",
           {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
            "source": pa.string(), "n_chars": pa.int64()})
    return {"documents": docs}


def generate(workload: str, sizes: dict, seed: int, out: str) -> dict:
    """Write one input set under `out`; returns facts for the checks."""
    rng = np.random.default_rng(seed)
    facts = {}
    if workload == "replicate":
        facts.update(gen_orders(rng, out, sizes["snapshot_rows"],
                                sizes["change_files"], sizes["change_rows"]))
        if "cdc_snapshot_rows" in sizes:
            facts.update(gen_slot(rng, out, sizes))
    elif workload == "curate_ops":
        facts.update(gen_documents(rng, out, sizes["documents"]))
    else:
        raise ValueError(workload)
    return facts


def gen_slot(rng, out, sizes):
    """The accounts snapshot and one continuous slot stream for it: the
    segments set-up drains (`setup_events`, one micro-batch each), then
    per round a backlog of large segments and small ones for single
    commits."""
    state = gen_accounts_snapshot(rng, out, sizes["cdc_snapshot_rows"])
    wal = WalWriter(rng, state, sizes["cdc_snapshot_rows"])
    wal_dir = f"{out}/wal"
    setup = [wal.segment(wal_dir, n) for n in sizes["setup_events"]]
    rounds = []
    for _ in range(sizes["rounds"]):
        rounds.append({
            "backlog": [wal.segment(wal_dir, sizes["segment_events"])
                        for _ in range(sizes["segments"])],
            "small": [wal.segment(wal_dir, sizes["trickle_events"])
                      for _ in range(sizes["trickle_segments"])]})
    _write({k: [a[k] for a in state.values()] for k in ACCOUNT_TYPES},
           f"{out}/expected/accounts.parquet", ACCOUNT_TYPES)
    return {"segments": {"setup": setup, "rounds": rounds},
            "backlog_events": sizes["segments"] * sizes["segment_events"],
            "trickle_events":
                sizes["trickle_segments"] * sizes["trickle_events"],
            "last_lsn": wal.lsn}
