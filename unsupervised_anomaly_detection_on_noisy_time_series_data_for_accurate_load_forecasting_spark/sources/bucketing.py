"""Bucketed table layout for co-located fact-fact joins.

At 100 TB the lineitem⋈orders shuffle dominates TPC-H-shaped plans. Writing
both tables bucketed by the join key (same bucket count) lets Catalyst plan a
sort-merge join with **zero Exchange** — each bucket pair joins locally.
This is the storage-side contract; `tests/test_bucketing.py` asserts the
shuffle-free plan.

Writes are IDEMPOTENT: each sink stamps a plan-fingerprint table property
(`graft.plan_key`, a hash of the analyzed input plan plus the layout spec)
and skips the rewrite when an identical table already exists — so building
the `sink_partition_prune` / `bucketed_join_revenue` plans repeatedly (tests,
explains, bench warm runs) does not rewrite warehouse state each time.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession


def _plan_key(df: DataFrame, *layout: object) -> str:
    """Fingerprint of the analyzed input plan + layout spec + SOURCE DATA
    identity. The analyzed plan string embeds the source paths, so the same
    table name fed from a different SF directory (or a changed upstream
    query) re-triggers the write. Two refinements keep the skip honest:

    - exprIds (``#123``) are stripped before hashing — they are session/
      counter dependent, so the raw plan string would make the skip fire
      unpredictably across sessions reading identical data;
    - the input files' (name, size, mtime) triples are folded in via
      ``df.inputFiles()`` — regenerating the source parquet at the SAME path
      changes the fingerprint, so a stale bucketed table can't silently keep
      serving bucketed-join queries."""
    import os
    import re

    plan = re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())
    from urllib.parse import urlparse

    ident = []
    for uri in sorted(df.inputFiles()):
        p = urlparse(uri).path
        try:
            st = os.stat(p)
            ident.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            ident.append(p)  # non-local / vanished: name-only identity
    return hashlib.sha256(
        (plan + "|" + repr(layout) + "|" + ";".join(ident)).encode()
    ).hexdigest()[:16]


def _existing_plan_key(spark: SparkSession, table: str) -> str | None:
    if not spark.catalog.tableExists(table):
        return None
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    return {r["key"]: r["value"] for r in rows}.get("graft.plan_key")


def _clear_stale(spark: SparkSession, table: str) -> None:
    """Drop the catalog entry and its storage. Prefer the catalog-reported
    location; fall back to the default managed-table path only when the
    in-memory catalog has forgotten the table but its files survive."""
    import shutil
    from urllib.parse import urlparse

    loc = None
    if spark.catalog.tableExists(table):
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
            if r["col_name"].strip() == "Location":
                loc = urlparse(r["data_type"].strip()).path
                break
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if loc is None:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = f"{wh}/{table}"
    shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 8, sort_col: str | None = None
) -> None:
    """Persist as a bucketed (+sorted) managed table. Bucket count is the
    scale knob: pick so each bucket ≈ one task's worth of data. No-op when
    the identical table (same input plan + layout) already exists."""
    spark = df.sparkSession
    key = _plan_key(df, "bucket", bucket_col, n_buckets, sort_col)
    if _existing_plan_key(spark, table) == key:
        return
    _clear_stale(spark, table)
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ('graft.plan_key'='{key}')")


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, left_key: str, right_key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket keys — Catalyst elides
    both exchanges when bucket specs line up."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    # MERGE hint: at real scale neither fact side broadcasts; the hint keeps
    # the test-SF plan on the same (shuffle-free, bucket-aligned) strategy.
    return lt.hint("merge").join(rt, lt[left_key] == rt[right_key])


def write_partitioned(df: DataFrame, table: str, partition_col: str) -> None:
    """Persist hive-partitioned by ``partition_col`` — the layout contract
    that turns partition-column predicates into directory pruning: a filter
    on the column never reads the other partitions' files at all (visible
    as PartitionFilters in the scan node). The 100 TB discipline: partition
    by the always-filtered low-cardinality column (date, source, lang),
    bucket by the high-cardinality join key. No-op when the identical table
    (same input plan + layout) already exists."""
    spark = df.sparkSession
    key = _plan_key(df, "partition", partition_col)
    if _existing_plan_key(spark, table) == key:
        return
    _clear_stale(spark, table)
    df.write.mode("overwrite").partitionBy(partition_col).saveAsTable(table)
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ('graft.plan_key'='{key}')")


def zvalue_expr(bx: str, by: str, bits: int = 10):
    """Morton/Z-value of two ``bits``-wide non-negative int columns: bit i
    of x lands at position 2i, bit i of y at 2i+1. Pure shift/and/or
    arithmetic — whole-stage-codegen folds it into the projection (no UDF,
    no shuffle)."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(F.col(bx), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col(by), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    table: str,
    colx: str,
    coly: str,
    bits: int = 10,
    n_files: int = 16,
) -> None:
    """Persist Z-ORDERED on two dimensions: bucketize both columns onto a
    2^bits grid (min/max-scaled — the two aggregates are a build-time stat
    pass, like any stats-collecting writer), interleave the grid bits into
    a Morton z-value, and range-partition + sort the write by it. Files
    then cover compact 2-D tiles, so a box predicate on (colx, coly)
    intersects O(perimeter) files instead of all of them — the multi-
    dimensional data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER shape)
    that hive-partitioning (1-D directories) and bucketing (hash, no
    ranges) cannot give. Parquet min/max footers on the ORIGINAL columns
    do the skipping at read time. Idempotent via the same plan-key stamp
    as the other sinks."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    key = _plan_key(df, "zorder", colx, coly, bits, n_files)
    if _existing_plan_key(spark, table) == key:
        return
    _clear_stale(spark, table)
    mm = df.agg(
        F.min(colx).alias("nx"), F.max(colx).alias("xx"),
        F.min(coly).alias("ny"), F.max(coly).alias("xy"),
    ).collect()[0]
    g = (1 << bits) - 1

    def as_int(v) -> int:
        # timestamp stats arrive as datetime; the column side casts to
        # epoch seconds, so the stat must too
        import datetime

        if isinstance(v, datetime.datetime):
            return int(v.replace(tzinfo=datetime.timezone.utc).timestamp())
        return int(v)

    dtypes = dict(df.dtypes)

    def numeric(col: str):
        # timestamps (incl. NTZ — session tz is pinned UTC) → epoch seconds
        if "timestamp" in dtypes[col]:
            return F.unix_seconds(F.col(col).cast("timestamp"))
        return F.col(col).cast("bigint")

    def bucket(col: str, lo, hi):
        span = max(as_int(hi) - as_int(lo), 1)
        return ((numeric(col) - F.lit(as_int(lo))) * F.lit(g) / F.lit(span)).cast("bigint")

    zd = (
        df.withColumn("_bx", bucket(colx, mm["nx"], mm["xx"]))
        .withColumn("_by", bucket(coly, mm["ny"], mm["xy"]))
        .withColumn("_z", zvalue_expr("_bx", "_by", bits))
        .drop("_bx", "_by")
    )
    (
        zd.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .saveAsTable(table)
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ('graft.plan_key'='{key}')")


def compact_partitions(
    spark: SparkSession, table: str, target_rows_per_file: int = 50_000
) -> list[tuple[str, int, int, int]]:
    """Small-files compaction for a hive-partitioned managed table — the
    sink-maintenance job every streaming/incremental 100 TB table needs:
    micro-batch and per-partition appends accrete kilobyte files whose
    open/footer overhead eventually dominates scans. Each partition is
    rewritten into ``ceil(rows / target_rows_per_file)`` files via a
    partition-scoped coalesce INSERT OVERWRITE (dynamic partition
    overwrite: only the rewritten partition's directory is replaced, never
    the table), smallest-file-count partitions untouched when already at
    target.

    Returns [(partition_spec, files_before, files_after, n_rows)] so the
    caller sees exactly what was rewritten — the no-silent-maintenance
    rule. Partition specs are parsed into typed (col, value) pairs —
    multi-level specs (a=1/b=2), URL-escaped values (spaces → %20, quotes),
    and ``__HIVE_DEFAULT_PARTITION__`` (NULL) all resolve to column
    predicates, never to interpolated SQL strings — and a partition whose
    predicate matches zero rows while its directory holds files RAISES
    instead of reporting n_rows=0 as handled. File listing goes through the
    Hadoop FileSystem API, so any warehouse scheme (s3a/hdfs/file) works,
    not just a local path. Driver work is one file listing per partition;
    the data moves through executors (scan → coalesce → write), never the
    driver."""
    import math
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from ..session import conf_override

    loc = None
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if r["col_name"].strip() == "Location":
            loc = r["data_type"].strip()
            break
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _count_parquet(dir_uri: str) -> int:
        p = jvm.org.apache.hadoop.fs.Path(dir_uri)
        fs = p.getFileSystem(hconf)
        if not fs.exists(p):
            return 0
        return sum(
            1 for st in fs.listStatus(p) if st.getPath().getName().endswith(".parquet")
        )

    out: list[tuple[str, int, int, int]] = []
    with conf_override(spark, **{"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        for prow in spark.sql(f"SHOW PARTITIONS {table}").collect():
            spec = prow[0]  # e.g. "lang=en" or "a=1/b=x%20y"
            pred = F.lit(True)
            for level in spec.split("/"):
                pcol, raw = level.split("=", 1)
                val = unquote(raw)
                if val == "__HIVE_DEFAULT_PARTITION__":
                    pred = pred & F.col(pcol).isNull()
                else:
                    # typed compare via analyzer coercion of the string
                    # literal — no SQL-string interpolation, quote-safe
                    pred = pred & (F.col(pcol) == F.lit(val))
            pdir = loc.rstrip("/") + "/" + spec
            files_before = _count_parquet(pdir)
            part = spark.table(table).where(pred)
            n_rows = part.count()
            if n_rows == 0 and files_before > 0:
                raise RuntimeError(
                    f"compact_partitions: partition spec {spec!r} of {table} "
                    f"matched 0 rows but its directory holds {files_before} "
                    "parquet files — predicate/spec mismatch, refusing to "
                    "report it as compacted"
                )
            n_target = max(1, math.ceil(n_rows / target_rows_per_file))
            if files_before <= n_target:
                out.append((spec, files_before, files_before, n_rows))
                continue
            # overwrite ONLY this partition (dynamic mode): read must not
            # race its own overwrite, so cut lineage first
            snap = part.localCheckpoint(eager=True)
            snap.coalesce(n_target).write.mode("overwrite").insertInto(table)
            files_after = _count_parquet(pdir)
            out.append((spec, files_before, files_after, n_rows))
    return out


def expire_old_partitions(
    spark: SparkSession, table: str, partition_col: str, cutoff: str
) -> list[tuple[str, int]]:
    """Retention maintenance for a hive-partitioned managed table — the
    companion job to :func:`compact_partitions`: a 100 TB table with a
    retention policy must DROP whole partitions (metadata + directory
    delete, no data rewrite), never run a DELETE that rewrites files.

    Drops every partition of ``partition_col`` whose (unescaped) value
    sorts strictly below ``cutoff`` — partition values are strings in the
    metastore, so the caller's cutoff must use the same lexical form the
    sink wrote (ISO dates sort correctly as strings; zero-padded ints do
    too). Specs are parsed with the same typed rules as compaction
    (multi-level, URL-escaped, __HIVE_DEFAULT_PARTITION__ — a NULL
    ``partition_col`` never matches a cutoff and is never dropped; a NULL
    in ANY OTHER level is addressed in the DROP spec by its catalog
    literal so the spec always names the exact partition). Returns
    [(partition_spec, n_rows_dropped)] — the no-silent-maintenance rule.
    """
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    out: list[tuple[str, int]] = []
    for prow in spark.sql(f"SHOW PARTITIONS {table}").collect():
        spec = prow[0]
        levels = []
        target_val = None
        for level in spec.split("/"):
            pcol, raw = level.split("=", 1)
            val = unquote(raw)
            levels.append((pcol, val))
            if pcol == partition_col and val != "__HIVE_DEFAULT_PARTITION__":
                target_val = val
        if target_val is None or not target_val < cutoff:
            continue
        pred = F.lit(True)
        for pcol, val in levels:
            if val == "__HIVE_DEFAULT_PARTITION__":
                pred = pred & F.col(pcol).isNull()
            else:
                pred = pred & (F.col(pcol) == F.lit(val))
        n_rows = spark.table(table).where(pred).count()
        # the DROP spec must stay EXACT: a NULL level addressed by its
        # catalog literal (dropping the level instead would make a partial
        # spec that drops every sibling partition), quotes doubled so a
        # value containing ' cannot break or widen the statement
        spec_sql = ", ".join(
            f"""{pcol} = '{val.replace("'", "''")}'""" for pcol, val in levels
        )
        spark.sql(f"ALTER TABLE {table} DROP PARTITION ({spec_sql})")
        out.append((spec, n_rows))
    return out
