"""Oracle-grade cross-checks for the streaming family (VERDICT r3 #6).

Structured Streaming queries cannot sit in the registry's DuckDB gate
(they need writeStream + a sink), so their correctness evidence was
pytest-only. This script promotes them to the same evidence grade as
the batch registry: each streaming behavior is drained with
trigger=availableNow over the real sf tables, and its result is
compared by check_oracle.py's `compare` (rows, schema, dtypes,
values: the driver protocol) against a twin —
either the equivalent BATCH query (same engine, independent plan:
batch has no state store, no watermark, no micro-batching) or the
registry's DuckDB oracle SQL (independent engine).

Behaviors covered:
  * streaming_hourly_counts        vs batch twin AND DuckDB oracle
  * streaming_session_window       vs batch session_window (native op)
  * streaming_sessionize_custom    vs batch sessionize minus still-open
                                   final session per user (exact
                                   derivation of applyInPandasWithState
                                   append semantics under one drain)
  * streaming_checksum_xor         vs batch table_checksum fold
  * streaming_dedup_replay         vs batch dropDuplicates
  * streaming_topk_parquet_merge   vs batch window top-k
  * streaming_stream_stream_join   vs the same interval join, batch plan
  * streaming_dim_enrichment       vs the same broadcast join, batch plan
  * streaming_corpus_datasource_index
                                   vs the reference-flagship batch index
                                   (format("corpus") manifest-log stream
                                   grown mid-query; cross-micro-batch
                                   collect_set state)

Usage: python scripts/check_streaming_twins.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from apd_map_reduce_spark.operators.invindex import inverted_index  # noqa: E402
from apd_map_reduce_spark.session import get_spark  # noqa: E402
from apd_map_reduce_spark.sources.manifest import read_corpus, read_manifest  # noqa: E402
from apd_map_reduce_spark.sources.tables import load_table  # noqa: E402
from scripts.check_oracle import compare as oracle_compare  # noqa: E402


def compare(stream_pdf: pd.DataFrame, twin_pdf: pd.DataFrame) -> dict:
    problems = oracle_compare("twin", stream_pdf, twin_pdf)
    return {
        "stream_rows": len(stream_pdf),
        "twin_rows": len(twin_pdf),
        "hash_match": not problems,
        "problems": problems,
    }


def drain_to_memory(stream_df, name: str, mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="streaming-twins")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="stream_twins_")

    # Rewrite events through load_table's µs normalization so streaming
    # reads plain µs timestamps (the stream reader has no nanos hook).
    src = os.path.join(tmp, "events_src")
    events_batch = load_table(spark, sf_dir, "events")
    events_batch.write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    schema = batch.schema

    def stream(max_files: int | None = 8):
        r = spark.readStream.schema(schema)
        if max_files is not None:
            r = r.option("maxFilesPerTrigger", str(max_files))
        return r.parquet(src)

    results: dict[str, dict] = {}

    # 1. Tumbling hourly counts: complete-mode drain == batch twin ==
    #    DuckDB oracle.
    from apd_map_reduce_spark.queries.relational import (
        EVENTS_HOURLY_ORACLE,
        events_hourly,
    )
    from apd_map_reduce_spark.streaming.windows import hourly_event_counts

    drain_to_memory(hourly_event_counts(stream()), "tw_hourly", "complete")
    got = spark.table("tw_hourly").toPandas()
    rec = compare(got, events_hourly(spark, sf_dir).toPandas())
    con = duckdb.connect()
    for t in ("events",):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle_pdf = con.execute(EVENTS_HOURLY_ORACLE).df()
    rec["duckdb"] = compare(got, oracle_pdf)
    rec["twin"] = "batch:events_hourly + duckdb:EVENTS_HOURLY_ORACLE"
    results["streaming_hourly_counts"] = rec

    # 2. Native session_window, complete mode: exact batch parity (the
    #    same operator, streaming state machinery vs batch hash agg).
    #    session_window_agg is IMPORTED from the registry module, not
    #    re-implemented, so the twin cannot drift from the registered
    #    events_session_window_builtin query.
    from apd_map_reduce_spark.queries.relational import session_window_agg

    drain_to_memory(
        session_window_agg(stream().withWatermark("ts", "1 hour")),
        "tw_sessions",
        "complete",
    )
    results["streaming_session_window"] = {
        **compare(
            spark.table("tw_sessions").toPandas(), session_window_agg(batch).toPandas()
        ),
        "twin": "batch:session_window_agg (same native operator, batch plan)",
    }

    # 3. Custom stateful sessionize (applyInPandasWithState): under a
    #    single availableNow drain with NoTimeout, the emitted set is
    #    EXACTLY the batch sessions minus each user's final session
    #    (which stays open in state). Derive that twin and hash-compare.
    from apd_map_reduce_spark.queries.relational import events_sessionize
    from apd_map_reduce_spark.streaming.sessions import sessionize_stream

    # max_files=None → single availableNow micro-batch (file source
    # default batches up to 1000 files). The exact twin derivation
    # below REQUIRES one batch: applyInPandasWithState sorts only
    # within the data it is handed, so events time-interleaved across
    # micro-batches would fold into the wrong session (out-of-order
    # cross-batch delivery is the documented limitation of the
    # NoTimeout drain, not a bug this check should flap on).
    drain_to_memory(
        sessionize_stream(stream(max_files=None)).select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        ),
        "tw_custom_sessions",
        "append",
    )
    bsess = events_sessionize(spark, sf_dir)
    last = bsess.groupBy("user_id").agg(F.max("session_start").alias("session_start"))
    closed_twin = bsess.join(last, ["user_id", "session_start"], "left_anti")
    results["streaming_sessionize_custom"] = {
        **compare(
            spark.table("tw_custom_sessions").toPandas(),
            closed_twin.select(
                "user_id", "session_start", "session_end", "n_events"
            ).toPandas(),
        ),
        "twin": "batch:events_sessionize minus still-open final session/user",
    }

    # 4. XOR checksum store vs the batch fingerprint fold.
    from apd_map_reduce_spark.operators.snapshot import table_checksum
    from apd_map_reduce_spark.streaming.checksum import (
        checksum_stream_to_store,
        read_checksum_store,
    )

    cols = ["event_id", "user_id", "event_type"]
    store = os.path.join(tmp, "ck_store")
    q = checksum_stream_to_store(
        stream(), cols, store, checkpoint=os.path.join(tmp, "ck_ckpt")
    )
    q.awaitTermination()
    results["streaming_checksum_xor"] = {
        **compare(
            read_checksum_store(spark, store).toPandas(),
            table_checksum(batch, cols).toPandas(),
        ),
        "twin": "batch:table_checksum (order-insensitive XOR fold)",
    }

    # 5. Replayed-stream dedup vs batch dropDuplicates: duplicate the
    #    source files (at-least-once replay) and require the exact
    #    distinct set back.
    from apd_map_reduce_spark.streaming.dedup import dedup_stream_exact

    dup_src = os.path.join(tmp, "events_dup")
    batch.write.mode("overwrite").parquet(dup_src)
    for f in os.listdir(src):
        if f.startswith("part-"):
            shutil.copy(
                os.path.join(src, f), os.path.join(dup_src, "replay-" + f)
            )
    dup_stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "8"
    ).parquet(dup_src)
    drain_to_memory(
        dedup_stream_exact(dup_stream, keys=["event_id"]).select(
            "event_id", "user_id", "event_type"
        ),
        "tw_dedup",
        "append",
    )
    results["streaming_dedup_replay"] = {
        **compare(
            spark.table("tw_dedup").toPandas(),
            batch.select("event_id", "user_id", "event_type")
            .dropDuplicates(["event_id"])
            .toPandas(),
        ),
        "twin": "batch:dropDuplicates(event_id) over the un-replayed table",
    }

    # 6. Top-k parquet MERGE sink vs the batch window top-k.
    from apd_map_reduce_spark.streaming.topk import (
        TOP_K,
        streaming_topk_to_parquet,
        topk_from_store,
    )
    from pyspark.sql.window import Window

    topk_store = os.path.join(tmp, "topk_store")
    q = streaming_topk_to_parquet(stream(), topk_store)
    q.awaitTermination()
    w = Window.partitionBy("hour").orderBy(F.desc("n_events"), F.asc("event_type"))
    batch_topk = (
        batch.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .drop("rnk")
    )
    results["streaming_topk_parquet_merge"] = {
        **compare(
            topk_from_store(spark, topk_store).toPandas(), batch_topk.toPandas()
        ),
        "twin": "batch:per-hour window top-k over the same table",
    }

    # 7. Stream-stream event-time join (click→purchase attribution)
    #    vs the SAME join run as a batch plan (no state store, no
    #    watermark eviction). Single availableNow micro-batch so the
    #    watermark cannot evict join state mid-drain — with one batch
    #    the inner interval join must emit exactly the batch match set.
    from apd_map_reduce_spark.streaming.joins import click_purchase_attribution

    drain_to_memory(
        click_purchase_attribution(stream(max_files=None)),
        "tw_ss_join",
        "append",
    )
    results["streaming_stream_stream_join"] = {
        **compare(
            spark.table("tw_ss_join").toPandas(),
            click_purchase_attribution(batch).toPandas(),
        ),
        "twin": "batch: same interval join, batch plan (no state store)",
    }

    # 8. Stream-static dim enrichment vs the same broadcast join as a
    #    batch plan. Left join: every event must survive, matched or
    #    not, and the attached attributes must be identical.
    from apd_map_reduce_spark.streaming.enrich import enrich_events_with_users

    customer_dim = load_table(spark, sf_dir, "customer")
    drain_to_memory(
        enrich_events_with_users(stream(), customer_dim).withColumn(
            "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        ),
        "tw_enrich",
        "append",
    )
    results["streaming_dim_enrichment"] = {
        **compare(
            spark.table("tw_enrich").toPandas(),
            enrich_events_with_users(batch, customer_dim)
            .withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
            .toPandas(),
        ),
        "twin": "batch: same broadcast left join, batch plan",
    }

    # 9. The reference flagship, streaming: the batch inverted_index
    #    over the CUSTOM Python stream source (format('corpus'):
    #    manifest-as-log offsets, one partition per file), whose partial
    #    sets MERGE across micro-batches in the state store. The drained
    #    complete-mode index must equal the batch index over the
    #    identical corpus+manifest. file_ids are joined to a string
    #    because raw array columns are not canonicalizable by the
    #    generic comparator. processAllAvailable drain: availableNow is
    #    a JVM-source capability the Python wrapper does not declare.
    #    To genuinely exercise multi-batch offset planning (the first
    #    batch of a query instance is unthrottled by protocol), the
    #    manifest starts at half the corpus and grows mid-query: the
    #    remaining 20 files arrive throttled 7 per micro-batch.
    corpus_dir = os.path.join(tmp, "corpus_txt")
    os.makedirs(corpus_dir)
    doc_rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
        .collect()
    )
    paths = []
    for r in doc_rows:
        p = os.path.join(corpus_dir, f"doc{r.doc_id:04d}.txt")
        with open(p, "w", encoding="utf-8") as fh:
            fh.write(r.text + "\n")
        paths.append(p)
    manifest_path = os.path.join(tmp, "manifest.txt")
    with open(manifest_path, "w", encoding="utf-8") as fh:
        fh.write(f"{len(paths)}\n" + "\n".join(paths) + "\n")

    def ids_csv(df):
        return df.select(
            "word",
            F.array_join(
                F.transform("file_ids", lambda x: x.cast("string")), " "
            ).alias("file_ids"),
            "df",
        )

    batch_idx = inverted_index(read_corpus(spark, read_manifest(spark, manifest_path)))

    from apd_map_reduce_spark.sources.corpus_datasource import (
        register_corpus_source,
    )

    register_corpus_source(spark)
    grow_manifest = os.path.join(tmp, "manifest_grow.txt")

    def _write_manifest_atomic(n: int) -> None:
        # The started query polls latestOffset concurrently; a plain
        # open(..., 'w') exposes a truncated manifest mid-write. Write
        # to a temp file in the same directory and os.replace() so
        # readers always see a complete manifest.
        tmp_manifest = grow_manifest + ".tmp"
        with open(tmp_manifest, "w", encoding="utf-8") as fh:
            fh.write(f"{n}\n" + "\n".join(paths[:n]) + "\n")
        os.replace(tmp_manifest, grow_manifest)

    _write_manifest_atomic(len(paths) // 2)
    q = (
        ids_csv(
            inverted_index(
                spark.readStream.format("corpus")
                .option("maxFilesPerTrigger", "7")
                .load(grow_manifest)
            )
        )
        .writeStream.format("memory")
        .queryName("tw_invindex_pyds")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    _write_manifest_atomic(len(paths))
    q.processAllAvailable()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    results["streaming_corpus_datasource_index"] = {
        **compare(
            spark.table("tw_invindex_pyds").toPandas(), ids_csv(batch_idx).toPandas()
        ),
        "twin": "batch: inverted_index; source: Python data source (manifest log)",
        "n_batches": n_batches,  # ≥4 = growth actually micro-batched
    }

    shutil.rmtree(tmp, ignore_errors=True)

    n_fail = 0
    for name, rec in results.items():
        ok = rec["hash_match"] and rec.get("duckdb", {"hash_match": True})["hash_match"]
        status = "PASS" if ok else "FAIL"
        if not ok:
            n_fail += 1
        print(
            f"{status}  {name}: stream={rec['stream_rows']} twin={rec['twin_rows']} "
            f"hash={rec['hash_match']}"
        )
        for problem in rec["problems"] + rec.get("duckdb", {}).get("problems", []):
            print(f"      {problem}")
    print("ALL PASS" if n_fail == 0 else f"{n_fail} FAILURES")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
