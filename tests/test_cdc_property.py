"""Property-based CDC invariant (SURVEY.md §5, optional tier): for random
valid binlog traces — inserts, PK-preserving and PK-changing updates,
deletes, over a tiny colliding key space — the batch-collapsed Spark apply
(in any batch partitioning) must equal DuckDB's strict sequential per-event
apply, and replaying the final batch must be a no-op (idempotence under
at-least-once delivery).

Traces are *valid* CDC streams: update/delete before-images always reflect
the current row state, as binlog row events do. Example count is small —
each example runs real Spark jobs — but the key space (3×2 PKs) forces heavy
upsert/delete collision coverage per trace. The event-replay properties run
every trace twice: with typed images and with generic (JSON-string) images.
"""

from __future__ import annotations

import pytest

try:
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from test_cdc_apply import (
    duckdb_final_state,
    json_events_from_rows,
    spark_final_state,
)

from mysql_hbase_replicator_spark.sources.cdc_events import events_from_rows

# Determinism (r11 verdict #4): `.hypothesis/` is gitignored, so without
# derandomization a round-close "green" can simply mean the falsifying trace
# was not drawn that run — exactly how the r11 empty-state compaction crash
# shipped. derandomize=True makes every box explore the same example
# sequence; the round-close recipe additionally runs a DEEPER sweep via
# SPARK_GRAFT_PROPERTY_EXAMPLES=50 (still deterministic) to actually explore
# the trace space the gate claims to.
import os

_N_EXAMPLES = int(os.environ.get("SPARK_GRAFT_PROPERTY_EXAMPLES", "0"))

SNS = (1, 2, 3)
IDS = (10, 20)


@st.composite
def cdc_trace(draw):
    """A valid CDC event trace over the student table with a shadow state."""
    n = draw(st.integers(min_value=4, max_value=18))
    state: dict[tuple[int, int], dict] = {}
    events = []
    for pos in range(1, n + 1):
        live = sorted(state)
        choices = ["insert"] + (["update", "delete"] if live else [])
        op = draw(st.sampled_from(choices))
        if op == "insert":
            sn, id_ = draw(st.sampled_from(SNS)), draw(st.sampled_from(IDS))
            after = {
                "sn": sn,
                "id": id_,
                "score": draw(st.integers(0, 99)),
                "name": draw(st.sampled_from(["ann", "bob", "cho", None])),
                "rem": None,
            }
            state[(sn, id_)] = after
            events.append({"position": pos, "op": "insert", "db": "mixfs",
                           "table": "student", "after": after})
        elif op == "update":
            key = draw(st.sampled_from(live))
            before = state.pop(key)
            if draw(st.booleans()):  # PK-changing update
                new_key = (draw(st.sampled_from(SNS)), draw(st.sampled_from(IDS)))
            else:
                new_key = key
            after = {
                "sn": new_key[0],
                "id": new_key[1],
                "score": draw(st.integers(0, 99)),
                "name": before["name"],
                "rem": draw(st.sampled_from(["ok", None])),
            }
            state[new_key] = after
            events.append({"position": pos, "op": "update", "db": "mixfs",
                           "table": "student", "before": before, "after": after})
        else:
            key = draw(st.sampled_from(live))
            before = state.pop(key)
            events.append({"position": pos, "op": "delete", "db": "mixfs",
                           "table": "student", "before": before})
    return events


@given(trace=cdc_trace(), split=st.integers(0, 100))
@settings(
    max_examples=_N_EXAMPLES or 8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_trace_matches_sequential_oracle(
    spark, tmp_path_factory, student_struct, student_mapping, trace, split
):
    cut = (split * len(trace)) // 101  # any batch partitioning is legal
    batches = [b for b in (trace[:cut], trace[cut:]) if b]
    expected = duckdb_final_state(trace)

    # typed images, then the same trace as generic (JSON) images
    for generic in (False, True):
        tmp = tmp_path_factory.mktemp("cdcprop")
        store = None
        for batch in batches:
            store, _ = run_batch_into(
                spark, tmp, student_struct, student_mapping, batch, store, generic
            )
        assert spark_final_state(spark, store) == expected, f"generic={generic}"

        # at-least-once: replaying the last batch must not change the state
        store, _ = run_batch_into(
            spark, tmp, student_struct, student_mapping, batches[-1], store, generic
        )
        assert spark_final_state(spark, store) == expected, f"generic={generic}"


def events_df(spark, events, student_struct, generic):
    return (
        json_events_from_rows(spark, events)
        if generic
        else events_from_rows(spark, events, student_struct)
    )


def run_batch_into(spark, tmp, student_struct, student_mapping, events, store, generic=False):
    """run_batch against a persistent store dir (multi-batch apply)."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import apply_cdc_batch
    from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore

    if store is None:
        store = ParquetKeyedStore(str(tmp / "store"), n_buckets=4)
    ev_df = events_df(spark, events, student_struct, generic)
    result = apply_cdc_batch(spark, ev_df, store, {"mixfs.student": student_mapping})
    return store, result


@given(trace=cdc_trace(), split=st.integers(0, 100), compact_mid=st.booleans())
# Pinned falsifying trace from the r11 judge run: batch 0 deletes EVERY row,
# then compact_mid fires on the empty reconstructed state — the plain store
# crashed UNABLE_TO_INFER_SCHEMA at the staging re-read (merge.py compact()).
# split=68 → cut=(68*3)//101=2, so the insert+delete pair is batch 0 and the
# compaction runs against zero live rows.
@example(
    trace=[
        {"position": 1, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": 1, "id": 10, "score": 7, "name": "ann", "rem": None}},
        {"position": 2, "op": "delete", "db": "mixfs", "table": "student",
         "before": {"sn": 1, "id": 10, "score": 7, "name": "ann", "rem": None}},
        {"position": 3, "op": "insert", "db": "mixfs", "table": "student",
         "after": {"sn": 2, "id": 20, "score": 3, "name": "bob", "rem": None}},
    ],
    split=68,
    compact_mid=True,
)
@settings(
    max_examples=_N_EXAMPLES or 5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_trace_lsm_stores_match_oracle(
    spark, tmp_path_factory, student_struct, student_mapping, trace, split,
    compact_mid,
):
    """The same random valid trace, through BOTH merge-on-read stores
    (plain LSM and bucketed-catalog LSM), with an optional compaction
    between the batches — final state must equal DuckDB's sequential
    per-event oracle, and replaying the last batch must be a no-op. This
    is the randomized twin of the example-based bucketed-store tests
    (r11): delta append, last-wins collapse, fold-into-base, and the
    pointer-flip/retirement lifecycle all under arbitrary traces."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import apply_cdc_batch
    from mysql_hbase_replicator_spark.operators.merge import (
        BucketedLogStructuredKeyedStore,
        LogStructuredKeyedStore,
    )

    cut = (split * len(trace)) // 101
    batches = [b for b in (trace[:cut], trace[cut:]) if b]
    expected = duckdb_final_state(trace)

    for cls in (LogStructuredKeyedStore, BucketedLogStructuredKeyedStore):
        for generic in (False, True):
            what = f"{cls.__name__} generic={generic}"
            tmp = tmp_path_factory.mktemp(f"cdcprop_{cls.__name__}")
            store = cls(str(tmp / "store"), n_buckets=4)
            for i, batch in enumerate(batches):
                ev_df = events_df(spark, batch, student_struct, generic)
                apply_cdc_batch(
                    spark, ev_df, store, {"mixfs.student": student_mapping}
                )
                if compact_mid and i == 0 and len(batches) > 1:
                    store.compact(spark, "mixfs:student2")
            assert spark_final_state(spark, store) == expected, what
            # at-least-once: replay of the final batch is a no-op
            ev_df = events_df(spark, batches[-1], student_struct, generic)
            apply_cdc_batch(spark, ev_df, store, {"mixfs.student": student_mapping})
            assert spark_final_state(spark, store) == expected, what


def _replay_state(events: list[dict]) -> list[dict]:
    """Driver-side sequential fold of a valid trace → full row images of the
    final state (the snapshot a poller would capture)."""
    state: dict[tuple, dict] = {}
    for e in events:
        if e["op"] == "insert":
            a = e["after"]
            state[(a["sn"], a["id"])] = a
        elif e["op"] == "update":
            b, a = e["before"], e["after"]
            state.pop((b["sn"], b["id"]), None)
            state[(a["sn"], a["id"])] = a
        else:
            b = e["before"]
            state.pop((b["sn"], b["id"]), None)
    return list(state.values())


@given(trace=cdc_trace(), split=st.integers(0, 100))
@settings(
    max_examples=_N_EXAMPLES or 5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_trace_snapshot_polling_matches_event_replay(
    spark, tmp_path_factory, student_struct, student_mapping, trace, split
):
    """Transport equivalence for S1 (r13): polling FULL-STATE snapshots
    through the diff kernel must converge the store to the same state as
    event replay of the trace, for random valid traces and any poll cut —
    including the PK-collision-heavy shapes the generator forces (a key
    deleted and re-inserted between polls, PK-changing updates that swap
    two keys' images). Re-applying the last diff must be a no-op
    (at-least-once)."""
    from mysql_hbase_replicator_spark.operators.cdc_apply import apply_cdc_batch
    from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore
    from mysql_hbase_replicator_spark.sources.snapshot_diff import (
        snapshot_diff_events,
    )

    tmp = tmp_path_factory.mktemp("snapprop")
    cut = (split * len(trace)) // 101
    row = lambda d: tuple(d.get(f.name) for f in student_struct.fields)
    snaps = []
    for upto in (trace[:cut], trace):
        st_rows = [row(d) for d in _replay_state(upto)]
        snaps.append(
            spark.createDataFrame(st_rows, student_struct)
            if st_rows
            else spark.createDataFrame([], student_struct)
        )

    store = ParquetKeyedStore(str(tmp / "store"), n_buckets=4)
    mappings = {"mixfs.student": student_mapping}
    prev = None
    for i, snap in enumerate(snaps, start=1):
        ev = snapshot_diff_events(
            prev, snap, student_struct, ["sn", "id"], "mixfs", "student", position=i
        )
        apply_cdc_batch(spark, ev, store, mappings)
        prev = snap

    expected = duckdb_final_state(trace)
    assert spark_final_state(spark, store) == expected

    # at-least-once: re-applying the final poll's diff is a no-op
    ev = snapshot_diff_events(
        snaps[0], snaps[1], student_struct, ["sn", "id"], "mixfs", "student", position=2
    )
    apply_cdc_batch(spark, ev, store, mappings)
    assert spark_final_state(spark, store) == expected
