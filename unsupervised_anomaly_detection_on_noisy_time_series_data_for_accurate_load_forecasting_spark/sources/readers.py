"""Sources: parquet test tables + the reference's CSV ingest contracts.

Reference ingest surface (SURVEY.md §2.1, citations into /root/reference/):
- S1 CSV directory scan + union      (src/data_processing/process_aemo.py:37-47)
- S2 CSV custom delimiter            (src/data_processing/process_INPG.py:35-37)
- S4 labeled benchmark CSV           (src/data_processing/process_yahoo_benchmark.py:33-42)
- S6/S7 window sink/source           (process_aemo.py:200-223, dataset_ad.py:27-35)

Spark-first: a directory glob is a single multi-file scan (no manual concat —
U1 union is implicit), schemas are explicit (no inference pass over 100 TB),
and the window store is parquet keyed by an explicit window_start column
instead of the reference's filename-encoded .npy-per-window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan. `events.ts` is written as TIMESTAMP(NANOS), which the
    vectorized reader rejects — read nanos as long (runtime-settable legacy
    conf) and convert to a proper timestamp column (micro truncation, matching
    DuckDB's ns→us cast)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The driver may hand us a session with a non-UTC timezone; hour()/
    # date_trunc() over TIMESTAMP are session-tz-dependent, and the DuckDB
    # oracle is tz-naive — pin UTC on every entry path.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (mirrors the oracle setup)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Long-format series contract (SURVEY.md §1.4): every ingest lands here.
# ---------------------------------------------------------------------------
SERIES_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def read_csv_series(
    spark: SparkSession,
    path: str,
    ts_col: str,
    value_col: str,
    ts_format: str,
    sep: str = ",",
    series_id: str | None = None,
) -> DataFrame:
    """S1/S2 ingest: glob of CSVs -> long-format series.

    Reference: process_aemo.py:37-47 (glob+concat), process_INPG.py:35-37
    (sep=";"). Spark's multi-file csv scan replaces the per-file loop; the
    datetime format is explicit so parsing stays JVM-side and vectorized.
    """
    raw = (
        spark.read.option("header", "true")
        .option("sep", sep)
        .csv(path)
        .select(ts_col, value_col)  # P1 projection: pruned at scan
    )
    sid = F.lit(series_id) if series_id is not None else F.input_file_name()
    return raw.select(
        sid.alias("series_id"),
        F.to_timestamp(F.col(ts_col), ts_format).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )


def file_quality_gate(
    df: DataFrame, file_col: str = "_file", value_col: str = "value", max_zero_ratio: float = 0.05
) -> DataFrame:
    """S3 gate (process_park.py:41-53): drop an entire source file if it has
    any NULL/NaN value or more than `max_zero_ratio` zeros.

    One grouped aggregate over the file key + broadcast semi join — the gate
    costs a single pass regardless of file count."""
    v = F.col(value_col)
    stats = df.groupBy(file_col).agg(
        F.sum((v.isNull() | F.isnan(v)).cast("int")).alias("n_bad"),
        (F.sum((v == 0).cast("int")) / F.count(F.lit(1))).alias("zero_ratio"),
    )
    passing = stats.filter((F.col("n_bad") == 0) & (F.col("zero_ratio") <= max_zero_ratio)).select(
        file_col
    )
    return df.join(F.broadcast(passing), file_col, "left_semi")


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_EXCEL_EPOCH = "1899-12-30"  # serial 1 = 1900-01-01, with the Lotus leap bug baked in


def _xlsx_col_index(ref: str) -> int:
    """A1-style column letters -> 0-based index (A=0, Z=25, AA=26)."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def read_xlsx(path: str):
    """Minimal pure-stdlib XLSX reader (zipfile + ElementTree): first
    worksheet, row 1 = header; supports number cells, shared strings,
    inline strings, and formula-cached values. XLSX is a zip of XML by
    spec, so no third-party Excel library is required — this replaces the
    previous openpyxl gate for the S3 ingest path. Returns a pandas frame
    with string column names; date cells arrive as Excel serial floats
    (see read_excel_series for the epoch conversion)."""
    import xml.etree.ElementTree as ET
    import zipfile

    import pandas as pd

    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))
        sheet = "xl/worksheets/sheet1.xml"
        if sheet not in z.namelist():
            sheets = sorted(n for n in z.namelist() if n.startswith("xl/worksheets/"))
            if not sheets:
                return pd.DataFrame()
            sheet = sheets[0]
        root = ET.fromstring(z.read(sheet))
        rows: list[dict[int, object]] = []
        for row in root.iter(f"{_XLSX_NS}row"):
            cells: dict[int, object] = {}
            for c in row.findall(f"{_XLSX_NS}c"):
                idx = _xlsx_col_index(c.get("r", ""))
                t = c.get("t", "n")
                v = c.find(f"{_XLSX_NS}v")
                val: object = None
                if t == "s" and v is not None and v.text is not None:
                    val = shared[int(v.text)]
                elif t == "inlineStr":
                    is_el = c.find(f"{_XLSX_NS}is")
                    if is_el is not None:
                        val = "".join(tt.text or "" for tt in is_el.iter(f"{_XLSX_NS}t"))
                elif v is not None and v.text is not None:
                    try:
                        val = float(v.text)
                    except ValueError:
                        val = v.text
                if idx >= 0:
                    cells[idx] = val
            rows.append(cells)
    if not rows:
        return pd.DataFrame()
    header = rows[0]
    cols = sorted(header)
    names = [str(header[c]) for c in cols]
    return pd.DataFrame([[r.get(c) for c in cols] for r in rows[1:]], columns=names)


def read_excel_series(
    spark: SparkSession,
    path_glob: str,
    ts_col: str,
    value_col: str,
    max_zero_ratio: float = 0.05,
) -> DataFrame:
    """S3: per-building XLSX ingest with the quality gate
    (process_park.py:17-53). XLSX is not a splittable columnar format, so the
    scale pattern is driver/one-task-per-file pandas staging into the long
    contract, then the engine-side gate. Uses pandas/openpyxl when present,
    else the pure-stdlib :func:`read_xlsx` parser — no library gate.
    Timestamps may arrive as Excel serial numbers (converted against the
    1899-12-30 epoch) or as parseable strings."""
    import glob as _glob

    import pandas as pd

    def _load(p: str):
        try:
            import openpyxl  # noqa: F401

            return pd.read_excel(p)
        except ImportError:
            return read_xlsx(p)

    frames = []
    for p in sorted(_glob.glob(path_glob)):
        pdf = _load(p)[[ts_col, value_col]]
        pdf.columns = ["ts", "value"]
        if pd.api.types.is_numeric_dtype(pdf["ts"]):
            pdf["ts"] = pd.Timestamp(_EXCEL_EPOCH) + pd.to_timedelta(
                pdf["ts"].astype(float), unit="D"
            )
        else:
            pdf["ts"] = pd.to_datetime(pdf["ts"])
        # Spark timestamps hold microseconds. A serial's float day fraction
        # leaves nanoseconds that Arrow's safe cast rejects (createDataFrame
        # then falls back to its slow row path, which truncates them), so
        # floor to the microsecond here: same values, Arrow path kept.
        pdf["ts"] = pdf["ts"].dt.floor("us")
        pdf["value"] = pd.to_numeric(pdf["value"], errors="coerce")
        pdf["_file"] = p
        frames.append(pdf)
    staged = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    gated = file_quality_gate(staged, "_file", "value", max_zero_ratio)
    return gated.select(
        F.col("_file").alias("series_id"), F.col("ts").cast("timestamp").alias("ts"), F.col("value").cast("double")
    )


def read_labeled_benchmark(spark: SparkSession, path: str) -> DataFrame:
    """S4: Yahoo-style (timestamp, value, is_anomaly) labeled CSV.

    Reference: process_yahoo_benchmark.py:33-42.
    """
    schema = T.StructType(
        [
            T.StructField("timestamp", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("is_anomaly", T.IntegerType(), True),
        ]
    )
    return spark.read.option("header", "true").schema(schema).csv(path)


def write_windows(df: DataFrame, path: str, partition_cols: tuple[str, ...] = ()) -> None:
    """S6 window sink: parquet replaces .npy-per-window (process_aemo.py:200-223).

    NaN-window suppression (P4) is the caller's filter; here we only persist.
    Partitioning by series_id keeps per-series scans pruned at 100 TB.
    """
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def read_windows(spark: SparkSession, path: str) -> DataFrame:
    """S7 window source (dataset_ad.py:27-35): plain parquet scan."""
    return spark.read.parquet(path)


DOCUMENTS_SCHEMA = (
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
)


def write_jsonl_corpus(df: DataFrame, path: str) -> None:
    """Corpus sink in the interchange format crawl pipelines actually
    exchange: one JSON object per line (uncompressed here; Spark's json
    writer composes with any codec option). Line-delimited JSON splits at
    newlines, so a 100 TB corpus scans with full parallelism."""
    df.write.mode("overwrite").json(path)


def read_jsonl_corpus(spark: SparkSession, path: str, schema: str = DOCUMENTS_SCHEMA) -> DataFrame:
    """JSONL corpus source with a PINNED schema — never schema inference:
    at crawl scale, inference is a full extra pass over 100 TB and a
    correctness hazard (a single malformed line can widen a column for the
    whole dataset). Malformed lines land in _corrupt_record instead of
    failing the scan (PERMISSIVE), so ingest accounting can count them."""
    return spark.read.schema(schema + ", _corrupt_record STRING").json(path)
