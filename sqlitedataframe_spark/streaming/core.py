"""Structured Streaming operators over the events table.

Scale design: every transform here is the same declarative plan Spark runs
incrementally on a real cluster — watermarks bound state, windowed aggs do
partial aggregation per micro-batch, and `availableNow` gives exactly-once
batch-equivalent replay of a static directory (which is what makes these
oracle-checkable: the streaming result must equal the batch/DuckDB result
over the same files).

The reference has no streaming concept; this module is the Spark-native
capability extension (SURVEY §2 Tier B "Streaming, watermarks, session
windows" row).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlitedataframe_spark.io import load_table, normalize, table_path
from sqlitedataframe_spark.session import tune


def _stream_dir(parquet_file: str) -> str:
    """File-stream sources require a *directory*; the fixtures are single
    parquet files. Stage a stable per-file symlink directory (idempotent —
    the path is derived from the source path, so repeated calls reuse it).
    A source that is ALREADY a directory (Spark-written multi-part tables,
    e.g. the scale-check replicas) streams as-is — symlinking a directory
    would hide its part files from the non-recursive file listing."""
    if os.path.isdir(parquet_file):
        return parquet_file
    key = hashlib.sha1(parquet_file.encode()).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), f"sdf_stream_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(parquet_file))
    if not os.path.exists(link):
        try:
            os.symlink(parquet_file, link)
        except FileExistsError:
            pass
    return d


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` over any fixture table's parquet.

    File-stream sources need an explicit schema; we take it from a batch
    read (one footer read, no data scan). Columns are normalized by
    io.normalize — the SAME boundary the batch path uses — so e.g. the
    events ``ts`` always reaches watermarks as TimestampType regardless
    of how this Spark version surfaces parquet TIMESTAMP(NANOS).
    """
    tune(spark)
    batch = spark.read.parquet(table_path(sf_dir, name))
    stream = spark.readStream.schema(batch.schema).parquet(
        _stream_dir(table_path(sf_dir, name))
    )
    return normalize(stream, name)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet (see read_table_stream)."""
    return read_table_stream(spark, sf_dir, "events")


def stream_tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def stream_sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked sliding-window counts (each event lands in two windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def stream_session_window(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — Spark's native
    ``session_window`` merges adjacent events into variable-length sessions
    with state bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: first event per key wins; watermark bounds the
    dedup state (keys older than the watermark are evicted) — the standard
    at-scale pattern for exactly-once event feeds."""
    return events.withWatermark("ts", watermark).dropDuplicates([*keys, "ts"]).select(
        *keys, "ts"
    )


def stream_stream_attribution(
    events: DataFrame,
    conv_type: str = "purchase",
    attr_type: str = "click",
    window_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: attribute each conversion
    event to the same user's attribution events in the preceding
    ``window_minutes``. Both sides carry watermarks + the time-range join
    condition, so Spark bounds each side's state buffer — the canonical
    funnel/attribution join at scale."""
    conv = (
        events.filter(F.col("event_type") == conv_type)
        .select(
            F.col("event_id").alias("conv_id"),
            F.col("user_id"),
            F.col("ts").alias("conv_ts"),
        )
        .withWatermark("conv_ts", watermark)
    )
    attr = (
        events.filter(F.col("event_type") == attr_type)
        .select(
            F.col("event_id").alias("attr_id"),
            F.col("user_id").alias("attr_user"),
            F.col("ts").alias("attr_ts"),
        )
        .withWatermark("attr_ts", watermark)
    )
    return conv.join(
        attr,
        F.expr(
            f"user_id = attr_user AND "
            f"attr_ts >= conv_ts - INTERVAL {window_minutes} MINUTES AND "
            f"attr_ts <= conv_ts"
        ),
    ).select("conv_id", "user_id", "conv_ts", "attr_id", "attr_ts")


#: Hard cap on rows run_available_now will pull to the driver. The memory
#: sink is driver-resident by definition; this harness exists for
#: batch-equivalence TESTING of (bounded) aggregated results only. The
#: production path for unbounded streams is stream_to_sqlite /
#: stream_upsert_to_sqlite (foreachBatch — executor-side, incremental).
AVAILABLE_NOW_MAX_ROWS = 1_000_000


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    max_rows: int = AVAILABLE_NOW_MAX_ROWS,
) -> DataFrame:
    """Run a streaming DataFrame to completion over all currently-available
    input (``Trigger.AvailableNow``) into a memory sink; return the result
    as a batch DataFrame.

    This is the batch-equivalence harness: the incremental plan must produce
    the same rows the one-shot batch plan does. It collects the memory sink
    to the driver, so it refuses (ValueError) result sets above ``max_rows``
    — point production streams at ``stream_to_sqlite`` instead.
    """
    sink = name or f"mem_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    spark = stream_df.sparkSession
    n = spark.table(sink).count()
    if n > max_rows:
        raise ValueError(
            f"run_available_now is a driver-side test harness: sink holds "
            f"{n} rows > max_rows={max_rows}. Use stream_to_sqlite / "
            f"foreachBatch for production-size streams."
        )
    # Materialize before the temp view disappears with the next query reusing
    # the name; memory sink tables are tiny (aggregated results).
    return spark.createDataFrame(spark.table(sink).collect(), spark.table(sink).schema)


def stream_to_sqlite(
    stream_df: DataFrame,
    db_path: str,
    table: str,
    checkpoint: str | None = None,
):
    """Stream into the SQLite bridge via ``foreachBatch``: each micro-batch
    appends through write_sql (DDL on first batch, one transaction per
    partition). foreachBatch is the idiomatic sink adapter for targets without
    a native streaming writer; exactly-once follows from the checkpoint +
    idempotent-append contract the caller chooses.

    Returns the started StreamingQuery (AvailableNow trigger): caller
    awaits termination.
    """
    from sqlitedataframe_spark.sources.sqlite import table_exists, write_sql

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        mode = "append" if table_exists(db_path, table) else "replace"
        # r13: SQLite admits one writer at a time — partition-parallel
        # appends only contend the file lock (N python workers + N fsync'd
        # transactions per micro-batch). repartition(1) keeps the batch's
        # upstream transform parallel and funnels rows through a single
        # writer task (guide §6 "single-writer append").
        write_sql(batch_df.repartition(1), db_path, table=table, if_exists=mode)

    ckpt = checkpoint or tempfile.mkdtemp(prefix="sdf_ckpt_")
    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_to_sqlite(
    stream_df: DataFrame,
    db_path: str,
    table: str,
    key_cols: list[str],
    checkpoint: str | None = None,
):
    """Incremental UPSERT streaming sink: each micro-batch MERGEs into the
    SQLite table on ``key_cols`` (INSERT .. ON CONFLICT DO UPDATE through
    ``upsert_sql``) instead of appending.

    This is the idiomatic pattern for maintaining a *materialized view* in
    an external store from an update-mode aggregation: re-emitted keys
    overwrite their previous row, so replays and update-mode re-emissions
    are idempotent — exactly-once EFFECT without exactly-once delivery.
    The first batch creates the table (DDL from the Spark schema) with a
    UNIQUE index on the key columns, which SQLite's ON CONFLICT requires.

    Returns the started StreamingQuery (AvailableNow trigger); pass the
    SAME ``checkpoint`` across restarts to resume incrementally.
    """
    from sqlitedataframe_spark.sources.sqlite import (
        exec_sql,
        table_exists,
        upsert_sql,
        write_sql,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not table_exists(db_path, table):
            # DDL from schema, then the unique key ON CONFLICT targets.
            write_sql(batch_df.limit(0), db_path, table=table, if_exists="replace")
            quoted = ", ".join(f'"{k}"' for k in key_cols)
            exec_sql(
                db_path,
                f'CREATE UNIQUE INDEX "idx_{table}_upsert" ON "{table}" ({quoted})',
            )
        # r13: single-writer upsert — same file-lock argument as
        # stream_to_sqlite; update-mode batches are aggregation-sized
        upsert_sql(batch_df.repartition(1), db_path, table, key_cols)

    ckpt = checkpoint or tempfile.mkdtemp(prefix="sdf_ckpt_")
    return (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def load_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of read_events_stream (for equivalence tests)."""
    return load_table(spark, sf_dir, "events")


def stream_incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    min_jaccard: float = 0.3,
    max_files_per_trigger: int | None = None,
    work_dir: str | None = None,
) -> DataFrame:
    """Streaming near-dedup — the continuous-ingestion pipeline end to
    end: each micro-batch of documents is MinHash/LSH-checked against the
    corpus accumulated so far (``minhash_lsh_pairs(new_ids=batch)``), so
    the historical corpus is never re-paired with itself; flagged pairs
    append to the result store and the batch joins the corpus.

    Every pair is discovered exactly once — in the micro-batch of its
    LATER-arriving document — so the union over batches equals the
    one-shot batch run over the same files; the suite oracle (the full
    LSH SQL) checks exactly that, and a pytest drives a multi-file
    3-batch split through the same assertion. Hot-bucket suppression is
    DISABLED here (``max_bucket=None``): suppression thresholds evaluated
    against the corpus-so-far could emit pairs in early batches that a
    one-shot run over the final corpus would suppress, breaking that
    equivalence; the batch side of the semi-join already bounds the
    per-batch join cost, which is the skew guard that matters on this
    path (ADVICE r4).

    foreachBatch + plain append is only at-least-once (a retried
    micro-batch would re-append its rows), so both the pair log and the
    corpus are written to a ``batch_id=N`` partition directory with
    per-directory overwrite: a replayed batch overwrites exactly its own
    partition — idempotent EFFECT, the same recipe as the upsert sink
    above. The corpus a batch compares against is read as
    ``batch_id < N``, so a retry sees the identical corpus the first
    attempt saw.

    ``work_dir=None`` (the default) derives a fresh run directory under
    the system temp dir and cleans it up front. An EXPLICIT ``work_dir``
    is the caller's: it is never wiped — it must be empty/nonexistent
    (fresh run) or hold a previous run's state, which is resumed via the
    stream checkpoint (ADVICE r4: unconditional rmtree was destructive
    and contradicted restart-safety).
    """
    import shutil

    from sqlitedataframe_spark.operators.dedup import minhash_lsh_pairs

    if work_dir is None:
        base = os.path.join(
            tempfile.gettempdir(), f"sdfspark_incdedup_{os.path.basename(sf_dir)}"
        )
        shutil.rmtree(base, ignore_errors=True)
    else:
        base = work_dir
    acc = os.path.join(base, "corpus")
    out = os.path.join(base, "pairs")
    ckpt = os.path.join(base, "ckpt")

    src = read_table_stream(spark, sf_dir, "documents").select("doc_id", "text")
    if max_files_per_trigger is not None:
        batch = spark.read.parquet(table_path(sf_dir, "documents"))
        src = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(_stream_dir(table_path(sf_dir, "documents")))
        )
        src = normalize(src, "documents").select("doc_id", "text")

    def handle(b: DataFrame, batch_id: int) -> None:
        ss = b.sparkSession
        prior = [
            d for d in (os.listdir(acc) if os.path.isdir(acc) else [])
            if d.startswith("batch_id=")
            and int(d.split("=", 1)[1]) < batch_id
        ]
        if prior:
            # batch_id < N: a replayed batch N compares against exactly the
            # corpus its first attempt saw, and its own half-written
            # partition (if the failure struck mid-write) is excluded.
            corpus = (
                ss.read.option("basePath", acc)
                .parquet(*[os.path.join(acc, d) for d in prior])
                .drop("batch_id")
                .unionByName(b)
            )
        else:
            corpus = b
        from sqlitedataframe_spark.operators.util import release_caches

        try:
            pairs = minhash_lsh_pairs(
                corpus, min_jaccard=min_jaccard, new_ids=b.select("doc_id"),
                max_bucket=None,
            )
            # overwrite of the batch's OWN partition directory = idempotent
            # under foreachBatch replay (at-least-once -> exactly-once effect)
            pairs.write.mode("overwrite").parquet(
                os.path.join(out, f"batch_id={batch_id}")
            )
            b.write.mode("overwrite").parquet(
                os.path.join(acc, f"batch_id={batch_id}")
            )
        finally:
            # each batch registers one signature cache; N batches must not
            # accumulate N caches
            release_caches()

    (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.option("basePath", out).parquet(out).drop("batch_id")


def stream_late_data_drop(
    spark: SparkSession, sf_dir: str, delay: str = "1 hour"
) -> DataFrame:
    """Watermark-driven LATE-ROW EXCLUSION, proven against a batch replay.

    The other streaming queries prove incremental-equals-batch on in-order
    input; this one proves the *other* defining watermark property — rows
    arriving after the watermark passed their window are dropped, not
    aggregated. Events are split at the midpoint epoch second into an
    ON-TIME file (the later half, carrying the global max timestamp) and a
    LATE file (the earlier half), staged as single-file micro-batches
    (``maxFilesPerTrigger=1``; the file source orders by modification time,
    which the stager pins). Batch 0 aggregates the on-time half under the
    initial watermark; once it commits, the watermark advances to
    ``max(ts) - delay``, so EVERY late-file row — weeks older — is behind
    it and must be excluded. Append mode then emits exactly the finalized
    windows (window end <= watermark).

    An EMPTY bridge file sits between the two: Spark filters late events
    with the PREVIOUS batch's watermark and uses the advanced one only
    for eviction (measured on 4.1.2 — the late half fed directly as
    batch 1 is filtered with the initial watermark, aggregated, and
    wrongly re-emitted). With the bridge the late half arrives as
    batch 2, whose late-event filter watermark is fully advanced under
    either the documented one-batch or the observed two-batch lag, so
    the proof doesn't hinge on that implementation detail.

    The DuckDB oracle replays that contract as a batch filter: on-time rows
    only, windows with ``end <= max_epoch - delay`` only. If Spark failed
    to drop (or dropped at the wrong boundary), the late half's counts
    would resurface as duplicate or extra window rows and the hash compare
    would fail.

    Scale shape: one pass to stage (a real pipeline reads an existing
    directory — staging exists only because the fixture is a single file),
    then a watermarked windowed aggregation whose state is bounded by
    ``delay`` regardless of stream length. The only collect is the 1-row
    min/max epoch bound.
    """
    ev = load_events_batch(spark, sf_dir).select(
        "ts", "value", F.unix_timestamp("ts").alias("_e")
    )
    lo, hi = ev.agg(F.min("_e"), F.max("_e")).first()
    split_e = (int(lo) + int(hi)) // 2

    key = hashlib.sha1(
        f"latedrop2|{table_path(sf_dir, 'events')}".encode()
    ).hexdigest()[:16]
    stage = os.path.join(tempfile.gettempdir(), f"sdf_latedrop_{key}")
    ontime_f = os.path.join(stage, "batch0_ontime.parquet")
    bridge_f = os.path.join(stage, "batch1_bridge.parquet")
    late_f = os.path.join(stage, "batch2_late.parquet")
    if not all(os.path.isfile(p) for p in (ontime_f, bridge_f, late_f)):
        import shutil

        os.makedirs(stage, exist_ok=True)
        for cond, dest in (
            (F.col("_e") >= split_e, ontime_f),
            (F.lit(False), bridge_f),
            (F.col("_e") < split_e, late_f),
        ):
            tmp = dest + ".tmpdir"
            ev.filter(cond).select("ts", "value").coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = next(
                p for p in os.listdir(tmp)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            os.replace(os.path.join(tmp, part), dest)
            shutil.rmtree(tmp, ignore_errors=True)
    # the file source processes oldest-mtime first: on-time, bridge, late
    os.utime(ontime_f, (1_000_000_000, 1_000_000_000))
    os.utime(bridge_f, (1_000_000_100, 1_000_000_100))
    os.utime(late_f, (1_000_000_200, 1_000_000_200))

    schema = spark.read.parquet(ontime_f).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    return run_available_now(agg, output_mode="append")


def stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RESTART RECOVERY, proven exactly-once against a batch
    oracle (VERDICT r6 #5).

    The other streaming proofs cover windows/joins/state/late-drop on one
    continuous run; this one proves the production property users actually
    rely on: a query that dies partway through its input and is restarted
    from its checkpoint neither loses nor re-emits rows.

    Harness: events are staged as four single-file micro-batches
    (event_id % 4 — a pure function, so the staging is deterministic and
    idempotent). Phase 1 feeds only files 0-1 to a passthrough
    readStream → parquet-file-sink query (``maxFilesPerTrigger=1``,
    AvailableNow) and lets it terminate — from the sink's perspective the
    stream stopped partway through the corpus, with its progress recorded
    only in the checkpoint (source file log + sink ``_spark_metadata``
    commit log). Phase 2 drops files 2-3 into the source directory and
    starts a NEW query over the SAME checkpoint: Spark must resume from
    the logged offset — reprocessing nothing (the file-source log marks
    0-1 done) and committing the remainder transactionally.

    The returned aggregate over the SINK (per-type row count, distinct
    event_id count, value sum) equals the batch oracle over the raw events
    iff recovery was exactly-once: a replayed batch inflates n_events
    above n_ids, a lost batch deflates both — either way the hash compare
    fails. The deliberately clean stop (rather than a mid-batch kill) is
    what makes the proof deterministic; atomicity *within* a batch is the
    sink commit log's contract, exercised identically on this path.

    Scale shape: the sink is a real distributed parquet file sink (the
    100 TB egress path), not the driver-memory harness; only the final
    #event-types aggregate is collected.
    """
    import shutil

    ev = load_events_batch(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    key = hashlib.sha1(
        f"restart1|{table_path(sf_dir, 'events')}".encode()
    ).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), f"sdf_restart_{key}")
    pending = os.path.join(root, "pending")
    indir = os.path.join(root, "in")
    outdir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    files = [os.path.join(pending, f"batch{i}.parquet") for i in range(4)]
    if not all(os.path.isfile(p) for p in files):
        os.makedirs(pending, exist_ok=True)
        for i, dest in enumerate(files):
            tmp = dest + ".tmpdir"
            ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == i).coalesce(
                1
            ).write.mode("overwrite").parquet(tmp)
            part = next(
                p for p in os.listdir(tmp)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            os.replace(os.path.join(tmp, part), dest)
            shutil.rmtree(tmp, ignore_errors=True)

    # fresh run per call: in/out/ckpt are THIS harness's derived paths
    # under tempdir (never user data — the r4 rmtree advice stands)
    for d in (indir, outdir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(indir, exist_ok=True)
    schema = spark.read.parquet(files[0]).schema

    def run_phase() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for i in (0, 1):  # phase 1: half the corpus, then the query ends
        shutil.copyfile(files[i], os.path.join(indir, f"batch{i}.parquet"))
    run_phase()
    for i in (2, 3):  # phase 2: the rest; NEW query, SAME checkpoint
        shutil.copyfile(files[i], os.path.join(indir, f"batch{i}.parquet"))
    run_phase()

    sunk = spark.read.parquet(outdir)  # reads via the sink's commit log
    return (
        sunk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("event_id").cast("bigint").alias("n_ids"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )
