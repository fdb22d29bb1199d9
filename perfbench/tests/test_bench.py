"""Tests of the benchmark itself: generators, reference replica, CPU
accounting and the metric names it prints. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import time
import types

import pytest

from perfbench import gen, reference, run, spec, trace
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_per_seed():
    a = gen.encode(gen.EventGenerator(5).batch(3000))
    b = gen.encode(gen.EventGenerator(5).batch(3000))
    c = gen.encode(gen.EventGenerator(6).batch(3000))
    assert a == b
    assert a != c


def test_generator_log_has_every_case():
    evs = gen.EventGenerator(9).batch(40_000)
    replica = reference.Replica(gen.TABLES)
    replica.apply_all(evs)
    n = len(evs)
    assert 0.03 * n < replica.skipped_unmapped < 0.07 * n
    assert 0.002 * n < len(replica.dead) < 0.01 * n
    pk_changes = 0
    for e in evs:
        rule = replica.rules.get(f"{e['db']}.{e['table']}")
        if (rule and e["op"] == "update" and rule.valid(e["before"], e.get("included_before"))
                and rule.valid(e["after"], e.get("included_after"))):
            pk_changes += rule.key(rule.project(e["before"], None)) != rule.key(rule.project(e["after"], None))
    assert 0.003 * n < pk_changes < 0.02 * n
    assert any(e.get("included_after") for e in evs if e["op"] == "update")
    assert replica.checkpoint == n


def test_dead_letter_is_dead_in_every_table():
    g = gen.EventGenerator(4)
    evs = [g.dead_letter(t) for _ in range(20) for t in gen.TABLES]
    replica = reference.Replica(gen.TABLES)
    replica.apply_all(evs)
    assert len(replica.dead) == len(evs) and replica.checkpoint == len(evs)
    assert {e["table"] for e in evs} == {t.split(".")[1] for t in gen.TABLES}


def test_events_table_is_deterministic_and_feeds_every_oracle(tmp_path):
    """The plans layer's events table repeats per seed, and every builder it
    times has oracle SQL that runs on that table (DuckDB only, no Spark)."""
    import duckdb

    from mysql_hbase_replicator_spark.plans.registry import ORACLE_REGISTRY, load_all_queries

    paths = [str(tmp_path / f"{tag}/events.parquet") for tag in "abc"]
    for p, seed in zip(paths, (1, 1, 2)):
        gen.write_events_table(p, seed, 2000)
    a, b, c = (open(p, "rb").read() for p in paths)
    assert a == b and a != c
    load_all_queries()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{paths[0]}')")
    for name in spec.PLANS_QUERIES:
        assert con.execute(ORACLE_REGISTRY[name]).fetchall(), name


def _ev(pos, op, table="users", before=None, after=None, **kw):
    return {"position": pos, "op": op, "db": "shop", "table": table,
            "before": before, "after": after, **kw}


def test_reference_replica_known_answer():
    u = lambda uid, name, age, act: {"user_id": uid, "user_name": name, "age": age, "is_active": act}  # noqa: E731
    log = [
        _ev(1, "insert", after=u(1, "a", 30, 1)),
        _ev(2, "insert", after=u(2, "b", 40, 0)),
        # included-column subset: the columns left out become NULL
        _ev(3, "update", before=u(1, "a", 30, 1), after=u(1, "zz", 31, 0),
            included_after=["user_id", "age"]),
        # PK-changing update: the old key goes away
        _ev(4, "update", before=u(2, "b", 40, 0), after=u(3, "c", 50, 1)),
        # delete after update
        _ev(5, "delete", before=u(1, "zz", 31, 0), included_before=["user_id"]),
        # missing primary key: dead letter
        _ev(6, "insert", after={"user_name": "x", "age": 1, "is_active": 1}),
        # unmapped table: skipped, still advances the checkpoint
        _ev(7, "insert", table="audit_log", after={"id": 7}),
        # key column left out of the included list: dead letter
        _ev(8, "update", before=u(3, "c", 50, 1), after=u(3, "d", 51, 1),
            included_after=["user_name", "age", "is_active"]),
    ]
    r = reference.Replica(gen.TABLES)
    r.apply_all(log)
    assert r.rows("shop.users") == [(3, "c", "50", True)]
    assert r.rows("shop.orders") == [] and r.rows("shop.skus") == []
    assert r.dead == [(6, "insert", "shop.users"), (8, "update", "shop.users")]
    assert r.skipped_unmapped == 1
    assert r.checkpoint == 8
    assert r.applied == {"shop.users.insert": 2, "shop.users.update": 2, "shop.users.delete": 1}


def test_row_digest_is_order_insensitive():
    rows = [(1, "a", None), (2, "b", 1.5), (3, None, True)]
    assert reference.row_digest(rows) == reference.row_digest(list(reversed(rows)))
    assert reference.row_digest(rows) != reference.row_digest(rows[:2])
    assert reference.row_digest(rows)[0] == 3


def test_process_cpu_reads_proc_stat(tmp_path):
    # a thread name may hold spaces and parentheses; utime and stime are
    # the 14th and 15th fields, in clock ticks
    stat = tmp_path / "stat"
    stat.write_text("123 (C2 (x) Thre) S 1 2 3 0 -1 4194304 0 0 0 0 250 50 0 0 20 0 1 0\n")
    assert trace._stat_cpu_s(str(stat)) == ("C2 (x) Thre", 300 / trace.CLK_TCK)
    total0, jit0 = trace.process_cpu_s()
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    total1, jit1 = trace.process_cpu_s()
    assert total1 - total0 >= 0.1 and jit0 == jit1 == 0.0


def test_tracer_uncovered_time():
    t = Tracer(True, "w", "r")
    t.add("a", 0.0, 1.0)
    t.add("b", 0.5, 2.0)
    t.add("c", 3.0, 4.0)
    t.add("window", 0.0, 5.0)
    assert t.uncovered_s(0.0, 5.0, exclude=("window",)) == pytest.approx(2.0)
    off = Tracer(False, "w", "r")
    with off.span("x"):
        pass
    assert off.spans == []


def test_benchmark_json_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(spec.WORKLOADS)
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert [m["name"] for m in b["per_layer"]] == list(spec.LAYER_MAP)


def test_every_metric_the_workloads_set_is_declared():
    """Metric names written in workloads.py (scanned, not imported: that
    would need Spark) all match the name rule and are declared."""
    b = _bench()
    declared = {m["name"] for m in b["end_to_end"] + b["per_layer"]}
    with open(os.path.join(ROOT, "perfbench", "workloads.py")) as f:
        src = f.read()
    used = set(re.findall(r'run\.(?:e2e|layer)\["([^"]+)"\]', src))
    used |= set(re.findall(r'"((?:sources|pipeline|cdc_apply|merge|catalog|plans|spark|gen|mem|trace|wall|cpu)\.[a-z0-9_]+)":', src))
    assert used, "scan found no metric names"
    assert all(run.METRIC_NAME.fullmatch(n) for n in declared)
    assert used <= declared, used - declared


def test_result_line_prints_declared_metrics_only():
    fake = types.SimpleNamespace(failed=0, attempted=3)
    e2e = run.declared_metrics(trace=False)
    values = {name: 1.5 for name in e2e}
    line = json.loads(run.result_line(fake, e2e, values, fill_missing=False))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(e2e)
    assert all(run.METRIC_NAME.fullmatch(n) for n in line["metrics"])
    assert line["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    with pytest.raises(ValueError):
        run.result_line(fake, e2e, {**values, "not_declared": 1.0}, fill_missing=False)
    with pytest.raises(ValueError):  # an end-to-end metric is never left out
        run.result_line(fake, e2e, {"setup_s": 1.5}, fill_missing=False)
    layers = run.declared_metrics(trace=True)
    line = json.loads(run.result_line(fake, layers, {"merge.files": 3}, fill_missing=True))
    assert set(line["metrics"]) == set(layers) and line["metrics"]["spark.jobs"]["value"] == 0.0
