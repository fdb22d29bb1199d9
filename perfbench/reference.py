"""Reference replica: a pure-Python replay of a generated CDC log.

It states what the engine must end up with after applying the log, under
the kernel's K3 "intended" semantics: per mapped table the last image per
primary key after deletes, the dead-lettered events (K6), the skipped
unmapped events (P1) and the final checkpoint position. Every benchmark run
compares the store with it, outside the timed window.
"""

from __future__ import annotations

import hashlib
import json

ROW_OPS = ("insert", "update", "delete")


def _source_kind(mysql_type: str) -> str:
    """The Spark type the kernel parses a JSON image value as, for the
    MySQL types the generator declares."""
    t = mysql_type.lower()
    if t.startswith("bigint"):
        return "LongType"
    if t.startswith(("int", "tinyint")):
        return "IntegerType"
    if t.startswith("double"):
        return "DoubleType"
    if t.startswith("varchar"):
        return "StringType"
    raise ValueError(f"reference replica has no rule for MySQL type {mysql_type!r}")


def _cast(v, src: str, dst: str):
    """Spark's cast of a parsed value to the declared sink type (P4)."""
    if v is None or src == dst:
        return v
    if dst == "LongType" and src == "IntegerType":
        return v
    if dst == "StringType":
        return str(v)
    if dst == "BooleanType" and src == "IntegerType":
        return v != 0
    raise ValueError(f"reference replica has no cast {src} -> {dst}")


class TableRule:
    """One mapping: column order, keys and per-column cast."""

    def __init__(self, cols: list[tuple[str, str, str, str, bool]]):
        self.cols = cols
        self.sink_cols = [s for _c, _t, s, _st, _pk in cols]
        self.pk_db = [c for c, _t, _s, _st, pk in cols if pk]
        self._pk_idx = [i for i, (_c, _t, _s, _st, pk) in enumerate(cols) if pk]

    def valid(self, image: dict | None, included: list | None) -> bool:
        """K1: every key column present in the image and included."""
        if image is None:
            return False
        return all(
            (included is None or c in included) and image.get(c) is not None
            for c in self.pk_db
        )

    def project(self, image: dict, included: list | None) -> tuple:
        """P2 gate + P3 rename + P4 cast: the full sink row; columns the
        event did not include become NULL."""
        return tuple(
            _cast(image.get(c), _source_kind(t), st)
            if included is None or c in included
            else None
            for c, t, _s, st, _pk in self.cols
        )

    def key(self, row: tuple) -> tuple:
        return tuple(row[i] for i in self._pk_idx)


class Replica:
    """Applies events in log order and keeps the expected outcome."""

    def __init__(self, tables: dict[str, list]):
        self.rules = {t: TableRule(cols) for t, cols in tables.items()}
        self.state: dict[str, dict[tuple, tuple]] = {t: {} for t in tables}
        self.dead: list[tuple[int, str, str]] = []  # (position, op, table)
        self.skipped_unmapped = 0
        self.applied: dict[str, int] = {}  # "db.table.op" -> n
        self.checkpoint: int | None = None

    def apply(self, ev: dict) -> None:
        """Apply one event."""
        pos = ev["position"]
        self.checkpoint = pos if self.checkpoint is None else max(self.checkpoint, pos)
        op = ev["op"]
        if op not in ROW_OPS:
            return
        full = f"{ev['db']}.{ev['table']}"
        rule = self.rules.get(full)
        if rule is None:
            self.skipped_unmapped += 1
            return
        before, after = ev.get("before"), ev.get("after")
        inc_b, inc_a = ev.get("included_before"), ev.get("included_after")
        ok = {
            "insert": lambda: rule.valid(after, inc_a),
            "delete": lambda: rule.valid(before, inc_b),
            "update": lambda: rule.valid(after, inc_a) and rule.valid(before, inc_b),
        }[op]()
        if not ok:
            self.dead.append((pos, op, full))
            return
        k = f"{full}.{op}"
        self.applied[k] = self.applied.get(k, 0) + 1
        state = self.state[full]
        # K3 intended: an update deletes its before-key, then upserts the
        # after-image (an unchanged key is simply replaced)
        if op in ("update", "delete"):
            state.pop(rule.key(rule.project(before, inc_b)), None)
        if op in ("insert", "update"):
            row = rule.project(after, inc_a)
            state[rule.key(row)] = row

    def apply_all(self, events: list[dict]) -> None:
        for ev in events:
            self.apply(ev)

    def rows(self, table: str) -> list[tuple]:
        return list(self.state[table].values())


def row_digest(rows) -> tuple[int, str]:
    """Order-insensitive (count, hash) of a row set: the sum of per-row
    digests modulo 2**64, so any order of the same rows agrees."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(
            json.dumps(list(r), separators=(",", ":")).encode(), digest_size=8
        )
        acc = (acc + int.from_bytes(h.digest(), "big")) % (1 << 64)
        n += 1
    return n, f"{acc:016x}"
