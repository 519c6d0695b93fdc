"""Structured-Streaming variant of the scoring path (SURVEY.md §2.10).

The reference is batch-only; this is the engine extension for live meter
feeds: watermarked sliding windows + stream-static join against batch-fitted
per-series statistics — the streaming form of the M14/W6 flag operators.

Scale design: the static side (per-series mean/std) is a broadcast dim; state
is bounded by the watermark (late meter reads beyond 1 day are dropped);
`dropDuplicatesWithinWatermark` gives the streaming form of P2 dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import conf_override


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events table (micro-batched parquet source).

    The generator has shipped `ts` both as TIMESTAMP(NANOS) — unreadable as
    a Spark timestamp without the nanosAsLong escape hatch — and as plain
    TIMESTAMP(MICROS); sniff the parquet footer and adapt instead of baking
    in either assumption."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # window() is tz-dependent
    import pyarrow.parquet as pq

    ts_type = str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)
    if ts_type.startswith("timestamp[ns"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(_events_schema(T.LongType()))
            .option("pathGlobFilter", "events.parquet")  # file source needs a dir
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = (
        spark.readStream.schema(_events_schema(T.TimestampType()))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw


def series_stats(spark: SparkSession, sf_dir: str, min_events: int = 1) -> DataFrame:
    """Batch-fitted per-series mean/std — the static side of the join.
    Exact-moment arithmetic (functions/exact.py) so the streaming flags are
    oracle-reproducible. ``min_events=2`` drops singleton users, whose std
    is NULL under Spark's try_divide but NaN under an IEEE (n-1) divisor —
    consumers comparing against std must exclude them identically in both
    engines (mirror with HAVING count(*) >= 2 in the oracle)."""
    from ..functions.exact import davg, dstd
    from ..sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.col("user_id")).agg(
        davg("value").alias("mean_v"),
        dstd("value").alias("std_v"),
        F.count(F.lit(1)).alias("_n_fit"),
    )
    if min_events > 1:
        agg = agg.filter(F.col("_n_fit") >= F.lit(min_events))
    return agg.drop("_n_fit")


def stream_window_flags(
    spark: SparkSession, sf_dir: str, z_threshold: float = 2.5, watermark: str = "1 day"
) -> DataFrame:
    """Watermarked sliding-window aggregation + stream-static z-flagging:
    per (user, 2h window sliding 1h): event count, mean value, outlier count.
    """
    stream = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    stats = series_stats(spark, sf_dir)
    flagged = stream.join(F.broadcast(stats), "user_id").withColumn(
        "is_outlier",
        (F.abs(F.col("value") - F.col("mean_v")) > F.lit(z_threshold) * F.col("std_v")).cast("int"),
    )
    return (
        flagged.groupBy(F.col("user_id"), F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_outlier").alias("n_outliers"),
        )
        .select(
            F.col("user_id").cast("string").alias("series_id"),
            F.col("w.start").alias("window_start"),
            "n_events",
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
        )
    )


_RUN_COUNTER = [0]


def _scratch_root() -> str:
    """Root for streaming checkpoint/scratch dirs. Defaults to tmpfs
    (/dev/shm) when present: the HDFS-backed state store writes one delta
    file per state partition per stateful operator per micro-batch plus
    offset/commit logs — pure scratch I/O for an AvailableNow replay, and
    measured ~25% of the stream-stream join wall when it landed on disk.
    On a cluster the checkpoint must live on durable shared storage; this
    path is only for the local replay harness, and
    ``SPARK_GRAFT_STREAM_CKPT_DIR`` overrides it."""
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm"
    import tempfile

    return tempfile.gettempdir()


def _sweep_stale_scratch() -> None:
    """Remove scratch dirs left by DEAD processes under the scratch root.

    ``run_available_now`` removes its checkpoint dir on termination, but
    ``stream_upsert_sink`` must leave its state table on disk (the returned
    DataFrame reads it lazily after the function exits), so a process that
    exits without draining — or is killed — leaks its dir. Every dir name
    embeds the owning pid; sweeping dirs whose pid is gone bounds tmpfs
    growth across bench/check processes without ever touching a live run."""
    import os
    import re
    import shutil

    root = _scratch_root()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    pat = re.compile(r"^(?:graft-ckpt|graft_upsert)[-_](\d+)[-_]")
    for e in entries:
        m = pat.match(e)
        if not m:
            continue
        pid = int(m.group(1))
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, e), ignore_errors=True)
        except PermissionError:
            pass


def stream_state_partitions(sf_dir: str, table: str = "events") -> int:
    """Scale-adaptive state-partition count for a streaming plan reading
    ``{sf_dir}/{table}.parquet``: ceil(source bytes / 32 MB), clamped to
    [1, 4096]. The state-store cost of a micro-batch is one delta file +
    commit per partition per stateful operator, so the partition count
    should follow STATE VOLUME (here proxied by source size), not a
    constant: a 2 MB test feed needs one partition (32 was pure
    per-batch file overhead — measured 60% of the stream-stream join
    wall), a 100 TB feed derives thousands. Overridable via
    ``SPARK_GRAFT_STREAM_PARTITIONS``. Results are partition-count
    independent: every registered streaming query aggregates or joins
    per key, and the oracle replays prove set-equality."""
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if env:
        return int(env)
    try:
        nbytes = os.path.getsize(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return max(1, min(4096, -(-nbytes // (32 * 1024 * 1024))))


def run_available_now(
    result: DataFrame,
    table_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> str:
    """Drain the full source as micro-batches into an in-memory sink
    (Trigger.AvailableNow — the batch-replay mode of the same streaming plan).
    `complete` emits final window-agg states (append would hold back windows
    newer than the watermark); stateful operators that emit incrementally use
    `append`. Returns the unique sink table name.

    r15: each run gets a UNIQUE checkpoint dir under the tmpfs scratch root
    (removed after termination — replay checkpoints are scratch, and a
    shared/stale location silently replays old offsets), and
    ``state_partitions`` (see :func:`stream_state_partitions`) sizes
    `spark.sql.shuffle.partitions` for the stream's state stores, restored
    right after the query finishes."""
    import os
    import shutil
    import uuid

    _RUN_COUNTER[0] += 1
    name = f"{table_name}_{_RUN_COUNTER[0]}"
    spark = result.sparkSession
    _sweep_stale_scratch()
    ckpt = os.path.join(
        _scratch_root(), f"graft-ckpt-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    )
    conf = {}
    if state_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(state_partitions)
    try:
        with conf_override(spark, **conf):
            q = (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return name


def stream_attribution_join(
    spark: SparkSession, sf_dir: str, horizon: str = "2 hours", watermark: str = "1 day"
) -> DataFrame:
    """Stream-stream interval join: each purchase event joins the same
    user's view events from the preceding ``horizon`` — the attribution
    pattern, and the missing stream-stream member of the join family
    (stream-static and batch interval joins already ship).

    State discipline: BOTH sides carry a watermark and the join condition
    bounds event time in both directions, so Spark can evict view state
    older than horizon + watermark and purchase state older than the
    watermark — bounded state at any corpus size, the non-negotiable
    requirement for a 100 TB feed. Inner join + append mode = incremental
    emission; AvailableNow replay of the same plan is what the oracle
    compares against.
    """
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    joined = purchases.join(
        views,
        F.expr(
            f"p_user = v_user AND v_ts >= p_ts - INTERVAL {horizon}"
            " AND v_ts <= p_ts"
        ),
    )
    return joined.select(
        "purchase_id",
        "view_id",
        F.col("p_user").alias("user_id"),
        (
            (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")) / F.lit(60)
        )
        .cast("bigint")
        .alias("gap_min"),
    )


def stream_overlap_zjoin(
    spark: SparkSession,
    sf_dir: str,
    before: str = "30 minutes",
    after: str = "90 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Two-sided stream-stream inequality (z-) join: each purchase joins the
    same user's error events whose INCIDENT WINDOW ``[e_ts - before,
    e_ts + after]`` contains the purchase — i.e. the purchase may precede
    the error (by up to ``before``) or follow it (by up to ``after``).
    This is the second stream-stream shape next to
    :func:`stream_attribution_join`: there the interval is anchored on one
    side only (views strictly precede the purchase), so state eviction has
    one direction to reason about; here the band straddles zero with
    ASYMMETRIC slack, the attribution-window-that-ends pattern (incident
    blackouts, promo windows, fraud lookaround).

    State discipline is identical in kind: BOTH sides carry a watermark and
    the join condition bounds ``p_ts - e_ts`` in BOTH directions
    (``-before <= p_ts - e_ts <= after``), so Spark derives finite
    event-time ranges for each side's state and evicts rows once the other
    side's watermark clears them — bounded state at any feed size. Inner
    join + append mode = each qualifying pair is emitted exactly once;
    AvailableNow replay of the same plan is what the oracle compares
    against.

    ``offset_min`` is SIGNED (floor-divided, so -90 s → -2, matching the
    oracle's ``floor(sec/60)``; a bigint cast would truncate toward zero).
    """
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    errors = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", watermark)
    )
    joined = purchases.join(
        errors,
        F.expr(
            f"p_user = e_user AND p_ts >= e_ts - INTERVAL {before}"
            f" AND p_ts <= e_ts + INTERVAL {after}"
        ),
    )
    return joined.select(
        "purchase_id",
        "error_id",
        F.col("p_user").alias("user_id"),
        F.floor(
            (F.unix_timestamp("p_ts") - F.unix_timestamp("e_ts")) / F.lit(60.0)
        ).alias("offset_min"),
    )


def stream_sessions(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Streaming sessionization via ``session_window``: per-user dynamic-gap
    sessions maintained incrementally as events arrive — the streaming twin
    of the batch gaps-and-islands w5_sessionize.

    session_window state is merged per key as micro-batches land and evicted
    once the watermark passes a session's close — bounded state per active
    user, the property a gaps-and-islands Window (whole-history sort) can't
    give a live feed. Session value uses the same decimal-exact sum as the
    batch twin, so the AvailableNow replay is hash-comparable."""
    from ..functions.exact import dsum

    ev = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    return (
        ev.groupBy(F.col("user_id"), F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            F.col("user_id").cast("string").alias("series_id"),
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def stream_upsert_sink(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16, n_files: int = 4
) -> DataFrame:
    """Streaming CDC upsert via ``foreachBatch`` — the merge-on-write sink
    pattern for engines without a transactional table format: each
    micro-batch folds into a keyed state table that always holds exactly
    the latest version per (user, event_type).

    Scale discipline, per batch: (1) the batch pre-compacts to one
    candidate row per key (map-side combinable max_by); (2) only the
    state BUCKETS the batch touches are read back (hive partition
    pruning on pmod(user_id, n_buckets)); (3) the merge is an
    associative keep-latest on struct(ts, event_id) plus a version-count
    sum, so the result is independent of micro-batch slicing; (4) the
    rewrite uses dynamic partition overwrite — untouched buckets' files
    are never rewritten. With Delta/Iceberg absent this IS the standard
    incremental-upsert recipe; a lakehouse format would only replace
    step 4 with a MERGE commit.

    Returns the final compacted table, which must equal the batch
    keep-latest compaction (u_upsert_latest's oracle) bit-for-bit.
    """
    import os
    import tempfile

    from ..sources.readers import load_table

    # r15: scratch (source split, state table, checkpoint) on the tmpfs
    # scratch root — this path rewrites the state table once per
    # micro-batch, pure scratch I/O for the replay harness. The dir name
    # embeds the pid so _sweep_stale_scratch can reclaim it after this
    # process exits (the returned DataFrame reads the state table lazily,
    # so it cannot be deleted here).
    _sweep_stale_scratch()
    root = tempfile.mkdtemp(prefix=f"graft_upsert_{os.getpid()}_", dir=_scratch_root())
    src_dir, state_dir, ckpt = (
        f"{root}/src",
        f"{root}/state",
        f"{root}/ckpt",
    )
    events = load_table(spark, sf_dir, "events")
    # deterministic n-file split -> n micro-batches under maxFilesPerTrigger=1
    events.repartition(n_files, "user_id").write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    def merge(batch: DataFrame, batch_id: int) -> None:
        b = (
            batch.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int"))
            .groupBy("bucket", "user_id", "event_type")
            .agg(
                F.expr("max_by(value, struct(ts, event_id))").alias("latest_value"),
                F.max("ts").alias("latest_ts"),
                F.expr("max_by(event_id, struct(ts, event_id))").alias("latest_eid"),
                F.count(F.lit(1)).cast("bigint").alias("n_versions"),
            )
        )
        if os.path.isdir(state_dir) and any(
            e.startswith("bucket=") for e in os.listdir(state_dir)
        ):
            touched = [r["bucket"] for r in b.select("bucket").distinct().collect()]
            # localCheckpoint materializes the pruned buckets and cuts the
            # lineage back to state_dir — required to overwrite the same
            # path we just read (Spark rejects read-write path cycles)
            prev = (
                spark.read.parquet(state_dir)
                .filter(F.col("bucket").isin(touched))
                .localCheckpoint(eager=True)
            )
            both = prev.unionByName(b)
        else:
            both = b
        merged = both.groupBy("bucket", "user_id", "event_type").agg(
            F.expr("max_by(latest_value, struct(latest_ts, latest_eid))").alias("latest_value"),
            F.max("latest_ts").alias("latest_ts"),
            F.expr("max_by(latest_eid, struct(latest_ts, latest_eid))").alias("latest_eid"),
            F.sum("n_versions").cast("bigint").alias("n_versions"),
        )
        # dynamic overwrite: only the buckets present in `merged` rewrite.
        # Repartition by bucket first so each rewritten bucket is ONE file
        # (the merge groupBy hash-partitions on the full key, scattering a
        # bucket's rows across every shuffle partition — each task then
        # opens a writer per bucket it holds, so a rewrite emitted
        # partitions × buckets small files and the next batch's read-back
        # paid a footer per file). File count per rewrite is now ≤
        # n_buckets at any scale; n_buckets is the state-layout knob a
        # deployment raises with state volume.
        merged.repartition(n_buckets, "bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(state_dir)

    # The per-batch merge jobs used to run at the SESSION's shuffle
    # partitioning (= core count), so every micro-batch paid per-partition
    # constants that GREW with parallelism — measured 13.5 s at 32 cores vs
    # 7.9 s at 8 — and each rewrite scattered every touched bucket across
    # shuffle-partition-many files, inflating the next batch's read-back.
    # State volume, not core count, sizes these jobs: the same byte-derived
    # count every sibling stream uses (ceil(bytes/32 MB) — thousands at
    # 100 TB, 1 at sf0.1). The setup above runs no job these confs affect
    # (the source split is an explicit-count repartition into an
    # unpartitioned dir), so the override covers only the query's run.
    with conf_override(
        spark,
        **{
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
            "spark.sql.shuffle.partitions": str(stream_state_partitions(sf_dir)),
        },
    ):
        q = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(state_dir).select(
        "user_id", "event_type", "latest_value", "latest_ts", "n_versions"
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the documents table (micro-batched parquet source) —
    the ingest shape of a crawl pipeline: documents arrive as files, the
    quality gate runs per micro-batch, accounting aggregates roll up in
    state."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
