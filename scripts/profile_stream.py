"""Profile the streaming micro-batch fixed cost (r6 verdict #2).

Breaks one 5k-event micro-batch into its phases and times each:

  A. streaming machinery alone: readStream -> foreachBatch(no-op kernel)
     (source listing + json parse + offset/commit writes)
  B. batch kernel phases on an equivalent batch frame:
     B1 persist + stats collect          (checkpoint/counters/table discovery)
     B2 dead-letter count                (K1 validation pass)
     B3 K5 collapse persist + count      (action expansion + window)
     B4 affected-bucket discovery        (merge collect #1)
     B5 staged distinct + write          (merge collect #2 + parquet write)
  C. full pipeline per-batch p50 for reference

Run: python scripts/profile_stream.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_hbase_replicator_spark.session import get_spark  # noqa: E402

ROWS = 5_000
N_BATCHES = 4


def img(i):
    return {"sn": i % 100, "id": (i // 100) % 100, "score": i % 1000,
            "name": f"n{i % 97}", "rem": "r"}


def jsonl_line(i):
    mod = i % 10
    op = "insert" if mod < 6 else ("update" if mod < 8 else "delete")
    return json.dumps({"position": i + 1, "op": op, "db": "db", "table": "t",
                       "before": img(i) if mod >= 6 else None,
                       "after": img(i) if mod < 8 else None})


def write_batches(events_dir, n_batches, fmt="jsonl"):
    os.makedirs(events_dir, exist_ok=True)
    for b in range(n_batches):
        p = os.path.join(events_dir, f"{b:04d}.json")
        with open(p, "w") as f:
            for i in range(b * ROWS, (b + 1) * ROWS):
                f.write(jsonl_line(i) + "\n")


def mapping():
    from mysql_hbase_replicator_spark.catalog.meta import HbaseCollInfo, HbaseTableInfo
    return HbaseTableInfo(
        dbName="db", dbTableName="t", hbaseTableName="db:t", hbaseNameSpace="db",
        sparkTableName="t", bytesUtils="Binary",
        cols=[
            HbaseCollInfo("sn", "int(11)", "sn", "IntegerType", True),
            HbaseCollInfo("id", "int(11)", "id", "IntegerType", True),
            HbaseCollInfo("score", "int(11)", "score", "IntegerType", False),
            HbaseCollInfo("name", "varchar(10)", "name", "StringType", False),
            HbaseCollInfo("rem", "varchar(2)", "rem", "StringType", False),
        ],
    )


def phase_a_machinery(spark, root):
    """Streaming source + foreachBatch + checkpoint, no kernel work."""
    events_dir = os.path.join(root, "ev-a")
    write_batches(events_dir, N_BATCHES)
    from mysql_hbase_replicator_spark.sources.cdc_events import read_event_stream_json
    stream = read_event_stream_json(spark, events_dir, max_files_per_trigger=1)
    durs = []

    def noop(batch_df, batch_id):
        t0 = time.perf_counter()
        batch_df.write.format("noop").mode("overwrite").save()
        durs.append(time.perf_counter() - t0)

    q = (stream.writeStream.foreachBatch(noop)
         .option("checkpointLocation", os.path.join(root, "ck-a"))
         .trigger(availableNow=True).start())
    t0 = time.time()
    q.awaitTermination(300)
    wall = time.time() - t0
    trig = [p["durationMs"]["triggerExecution"]
            for p in q.recentProgress if p["numInputRows"] > 0]
    return {"wall": round(wall, 2), "trigger_ms": trig,
            "noop_action_s": [round(d, 3) for d in durs]}


def phase_b_kernel(spark, root):
    from pyspark.sql import functions as F
    from mysql_hbase_replicator_spark.operators.cdc_apply import apply_cdc_batch
    from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore

    events_dir = os.path.join(root, "ev-b")
    write_batches(events_dir, N_BATCHES)
    from mysql_hbase_replicator_spark.sources.cdc_events import CDC_JSON_EVENT_SCHEMA
    store = ParquetKeyedStore(os.path.join(root, "store-b"), n_buckets=32)
    m = {"db.t": mapping()}

    out = []
    for b in range(N_BATCHES):
        batch = (spark.read.schema(CDC_JSON_EVENT_SCHEMA)
                 .json(os.path.join(events_dir, f"{b:04d}.json")))
        t0 = time.perf_counter()
        apply_cdc_batch(spark, batch, store, m)
        out.append(round(time.perf_counter() - t0, 3))
    return {"kernel_batch_s": out}


def phase_b_detail(spark, root):
    """Hand-unrolled kernel phases on one warm batch."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from mysql_hbase_replicator_spark.operators import cdc_apply as CA
    from mysql_hbase_replicator_spark.operators.merge import ParquetKeyedStore
    from mysql_hbase_replicator_spark.sources.cdc_events import CDC_JSON_EVENT_SCHEMA

    events_dir = os.path.join(root, "ev-c")
    write_batches(events_dir, 2)
    store = ParquetKeyedStore(os.path.join(root, "store-c"), n_buckets=32)
    m = {"db.t": mapping()}
    # batch 0 seeds the store (overwrite path); batch 1 is the measured merge
    b0 = spark.read.schema(CDC_JSON_EVENT_SCHEMA).json(os.path.join(events_dir, "0000.json"))
    CA.apply_cdc_batch(spark, b0, store, m)

    ev = spark.read.schema(CDC_JSON_EVENT_SCHEMA).json(os.path.join(events_dir, "0001.json"))
    t = {}
    t0 = time.perf_counter()
    ev = ev.persist()
    stats = (ev.withColumn("_fn", F.concat("db", F.lit("."), "table"))
             .groupBy("_fn", "op").agg(F.count(F.lit(1)).alias("n"),
                                       F.max("position").alias("maxpos")).collect())
    t["b1_stats_collect"] = time.perf_counter() - t0

    info = m["db.t"]
    struct = CA.source_struct(info)
    ev = ev.withColumn("before", F.from_json("before", struct)).withColumn(
        "after", F.from_json("after", struct))
    t0 = time.perf_counter()
    valid = CA._valid_expr(info, F.col("before"), F.col("after"))
    ev2 = ev.withColumn("_valid", valid)
    n_dead = ev2.filter(~F.col("_valid")).count()
    t["b2_dead_count"] = time.perf_counter() - t0

    ev3 = ev2.filter(F.col("_valid")).withColumn("_ord", F.col("position"))
    sink_cols = [c.hbaseColumnName for c in info.cols]
    sink_pks = [c.hbaseColumnName for c in info.key_columns()]
    t0 = time.perf_counter()
    ups = ev3.filter(F.col("op") != "delete").select(
        "_ord", F.lit(1).alias("_seq"), F.lit("upsert").alias("_kind"),
        *CA._sink_projection(info, "after"))
    dels = ev3.filter(F.col("op") == "delete").select(
        "_ord", F.lit(0).alias("_seq"), F.lit("delete").alias("_kind"),
        *([F.col(f"before.{c.dbColumnName}").cast("int").alias(c.hbaseColumnName) for c in info.key_columns()]
          + [F.lit(None).cast("int").alias("score"), F.lit(None).cast("string").alias("name"),
             F.lit(None).cast("string").alias("rem")]))
    actions = ups.unionByName(dels.select(ups.columns))
    w = Window.partitionBy(*sink_pks).orderBy(F.desc("_ord"), F.desc("_seq"))
    final = actions.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).persist()
    final.count()
    t["b3_collapse_persist"] = time.perf_counter() - t0

    upserts = final.filter(F.col("_kind") == "upsert").select(*sink_cols)
    deletes = final.filter(F.col("_kind") == "delete").select(*sink_pks)
    path = store.table_path("db:t")
    t0 = time.perf_counter()
    changed = upserts.select(*sink_pks).unionByName(deletes).dropDuplicates()
    affected = [r[0] for r in changed.select(store._bucket(sink_pks).alias("b")).distinct().collect()]
    t["b4_affected_collect"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    current = (spark.read.option("mergeSchema", "true").parquet(path)
               .filter(F.col("_bucket").isin(affected)))
    t["b5a_read_plan_mergeschema"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    kept = current.drop("_bucket").join(F.broadcast(changed), sink_pks, "left_anti")
    new_state = kept.unionByName(upserts).withColumn("_bucket", store._bucket(sink_pks))
    staged = new_state.repartition("_bucket").persist()
    wb = {r[0] for r in staged.select("_bucket").distinct().collect()}
    t["b5b_staged_distinct"] = time.perf_counter() - t0

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    t0 = time.perf_counter()
    staged.write.partitionBy("_bucket").mode("overwrite").parquet(path)
    t["b5c_write"] = time.perf_counter() - t0
    if prev is None:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    staged.unpersist(); final.unpersist(); ev.unpersist()
    return {k: round(v, 3) for k, v in t.items()}


def main():
    spark = get_spark(app_name="profile-stream")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="prof-stream-")
    try:
        # warm the codegen paths once
        a = phase_a_machinery(spark, root)
        b = phase_b_kernel(spark, root)
        d = phase_b_detail(spark, root)
        print(json.dumps({"A_machinery": a, "B_kernel": b, "B_detail": d}, indent=1))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
