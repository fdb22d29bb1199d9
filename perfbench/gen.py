"""Seeded CDC event generator for the benchmark (pure Python, no Spark).

It writes the engine's generic multi-table jsonl log: one event per line,
row images as nested JSON objects parsed per table by the kernel against each
mapping's declared source schema. The log exercises every kernel rule the
reference replica in ``reference.py`` models:

- three mapped tables with different primary keys (composite int, bigint,
  varchar), whose columns are renamed (P3) and cast (P4) on the way in;
- one unmapped table carrying about 5% of events (P1 skip);
- about 0.5% of row events without a complete primary key (K6 dead letter);
- about 1% PK-changing updates (K3);
- updates and deletes with included-column subsets (P2);
- skewed key popularity, so the per-trigger collapse (K5) has work to do.

``write_events_table`` writes the seeded ``events.parquet`` the registry's
``cdc_*`` builders read.
"""

from __future__ import annotations

import json
import os
import random

DB = "shop"
UNMAPPED_TABLE = f"{DB}.audit_log"

# (db column, MySQL type, sink column, sink type, is primary key) per table.
# Sink names differ from db names and several sink types widen or convert
# the source type, so every run goes through the rename and cast paths.
TABLES: dict[str, list[tuple[str, str, str, str, bool]]] = {
    f"{DB}.orders": [
        ("order_id", "int(11)", "orderid", "IntegerType", True),
        ("line_no", "int(11)", "lineno", "IntegerType", True),
        ("user_id", "bigint(20)", "buyer", "LongType", False),
        ("qty", "int(11)", "quantity", "LongType", False),
        ("unit_price", "double", "unitprice", "DoubleType", False),
        ("note", "varchar(32)", "note", "StringType", False),
    ],
    f"{DB}.users": [
        ("user_id", "bigint(20)", "userid", "LongType", True),
        ("user_name", "varchar(40)", "name", "StringType", False),
        ("age", "int(11)", "age", "StringType", False),
        ("is_active", "tinyint(1)", "active", "BooleanType", False),
    ],
    f"{DB}.skus": [
        ("sku", "varchar(24)", "skuid", "StringType", True),
        ("title", "varchar(64)", "title", "StringType", False),
        ("price", "double", "price", "DoubleType", False),
        ("stock", "int(11)", "stock", "LongType", False),
    ],
}
# share of mapped row events per table
TABLE_WEIGHTS = {f"{DB}.orders": 0.5, f"{DB}.users": 0.3, f"{DB}.skus": 0.2}

USER_KEY_BASE = 10_000_000_000  # users.user_id needs a bigint

N_KEYS = 20_000  # key space per mapped table
SKEW = 3.0  # key index = N_KEYS * u**SKEW: small indexes are hot

UNMAPPED_SHARE = 0.05
DEAD_SHARE = 0.005
PK_CHANGE_SHARE = 0.01
SUBSET_SHARE = 0.2


def mappings() -> dict:
    """The catalog entries for the three mapped tables, keyed "db.table"."""
    from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo

    out = {}
    for full, cols in TABLES.items():
        db, table = full.split(".")
        out[full] = HbaseTableInfo(
            dbName=db,
            dbTableName=table,
            hbaseTableName=f"{db}:{table}",
            hbaseNameSpace=db,
            sparkTableName=f"r_{table}",
            cols=[HbaseCollInfo(c, t, s, st, pk) for c, t, s, st, pk in cols],
        )
    return out


class EventGenerator:
    """Emits a deterministic event stream for one seed. ``batch(n)`` returns
    the next ``n`` events as dicts; positions are global and monotonic."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.position = 0
        # keys the source database currently holds, per table
        self.live: dict[str, set] = {t: set() for t in TABLES}
        self._tables = list(TABLE_WEIGHTS)
        self._cum = []
        acc = 0.0
        for t in self._tables:
            acc += TABLE_WEIGHTS[t]
            self._cum.append(acc)

    # --- rows -------------------------------------------------------------
    def _key(self, table: str, idx: int) -> tuple:
        if table.endswith("orders"):
            return (idx // 8, idx % 8)
        if table.endswith("users"):
            return (USER_KEY_BASE + idx,)
        return (f"SKU-{idx:07d}",)

    def _row(self, table: str, key: tuple) -> dict:
        r = self.rng
        if table.endswith("orders"):
            return {
                "order_id": key[0],
                "line_no": key[1],
                "user_id": USER_KEY_BASE + r.randrange(N_KEYS),
                "qty": r.randrange(1, 50),
                "unit_price": round(r.uniform(1, 500), 2),
                "note": f"n{r.randrange(1000)}",
            }
        if table.endswith("users"):
            return {
                "user_id": key[0],
                "user_name": f"user{r.randrange(100000)}",
                "age": r.randrange(18, 90),
                "is_active": r.randrange(2),
            }
        return {
            "sku": key[0],
            "title": f"item {r.randrange(100000)}",
            "price": round(r.uniform(0.5, 999), 2),
            "stock": r.randrange(0, 10_000),
        }

    def _pk_cols(self, table: str) -> list[str]:
        return [c for c, _t, _s, _st, pk in TABLES[table] if pk]

    def _subset(self, table: str) -> list[str]:
        cols = [c for c, _t, _s, _st, pk in TABLES[table] if not pk]
        keep = [c for c in cols if self.rng.random() < 0.5]
        return self._pk_cols(table) + keep

    def _pick_table(self) -> str:
        u = self.rng.random() * self._cum[-1]
        for t, c in zip(self._tables, self._cum):
            if u < c:
                return t
        return self._tables[-1]

    def _pick_idx(self) -> int:
        return int(N_KEYS * (self.rng.random() ** SKEW))

    # --- events -----------------------------------------------------------
    def _event(self) -> dict:
        r = self.rng
        self.position += 1
        ev = {"position": self.position, "db": DB}
        if r.random() < UNMAPPED_SHARE:
            ev.update(
                op="insert",
                table=UNMAPPED_TABLE.split(".")[1],
                before=None,
                after={"id": self.position, "msg": f"a{r.randrange(1000)}"},
            )
            return ev
        table = self._pick_table()
        ev["table"] = table.split(".")[1]
        key = self._key(table, self._pick_idx())
        live = self.live[table]
        if r.random() < DEAD_SHARE:
            return self._dead(ev, table, key)
        if key not in live:
            live.add(key)
            ev.update(op="insert", before=None, after=self._row(table, key))
            return ev
        # events on a live key: 85% updates (PK changes among them), 15% deletes
        u = r.random()
        if u < PK_CHANGE_SHARE / 0.85:
            new_key = self._key(table, self._pick_idx())
            if new_key in live:  # keep PK changes onto fresh keys only
                new_key = self._key(table, N_KEYS + self.position)
            live.discard(key)
            live.add(new_key)
            ev.update(
                op="update",
                before=self._row(table, key),
                after=self._row(table, new_key),
            )
        elif u < 0.85:
            ev.update(op="update", before=self._row(table, key), after=self._row(table, key))
            if r.random() < SUBSET_SHARE:
                ev["included_after"] = self._subset(table)
                ev["included_before"] = self._pk_cols(table)
        else:
            live.discard(key)
            ev.update(op="delete", before=self._row(table, key), after=None)
            if r.random() < SUBSET_SHARE:
                ev["included_before"] = self._subset(table)
        return ev

    def _dead(self, ev: dict, table: str, key: tuple) -> dict:
        """K6: an image without its complete primary key (a PK column
        missing from the image, or left out of the included list)."""
        row = self._row(table, key)
        pk = self._pk_cols(table)
        if self.rng.random() < 0.5:
            del row[pk[-1]]
            ev.update(op="insert", before=None, after=row)
        else:
            ev.update(
                op="update",
                before=dict(row),
                after=row,
                included_after=[c for c in row if c != pk[0]],
            )
        return ev

    def dead_letter(self, table: str) -> dict:
        """One K6 event on ``table`` ("db.table")."""
        self.position += 1
        ev = {"position": self.position, "db": DB, "table": table.split(".")[1]}
        return self._dead(ev, table, self._key(table, self._pick_idx()))

    def batch(self, n: int) -> list[dict]:
        return [self._event() for _ in range(n)]


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def write_events_table(path: str, seed: int, n: int) -> None:
    """A seeded ``events.parquet`` with the columns the registry's ``cdc_*``
    builders read (event_id, ts, user_id, event_type, value, props): a
    change stream keyed by user_id over January 2024, ts strictly rising."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    t = datetime(2024, 1, 1)
    step_us = int(40 * 86400e6 / n)  # spans both cdc_snapshot_diff cut points
    ts = []
    for _ in range(n):
        t += timedelta(microseconds=rng.randrange(1, 2 * step_us))
        ts.append(t)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([int(N_KEYS // 10 * rng.random() ** SKEW) for _ in range(n)], pa.int64()),
            "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
            "value": [round(rng.uniform(1, 500), 2) for _ in range(n)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def encode(events: list[dict]) -> bytes:
    """One jsonl file body."""
    return "".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events).encode()


def land(events_dir: str, name: str, body: bytes) -> None:
    """Write a file under a hidden name, then rename it into view: the file
    source never lists a half-written file."""
    tmp = os.path.join(events_dir, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(body)
    os.replace(tmp, os.path.join(events_dir, name))
