"""Source-contract tests: CSV directory scan (S1), custom delimiter (S2),
labeled benchmark (S4), series CSV sink round-trip (S8), window parquet
sink/source (S6/S7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
    read_csv_series,
    read_labeled_benchmark,
    read_windows,
    write_windows,
)


def test_s1_csv_directory_scan(spark, tmp_path):
    d = tmp_path / "aemo"
    d.mkdir()
    (d / "a.csv").write_text(
        "SETTLEMENTDATE,TOTALDEMAND,REGION\n"
        "2024/01/01 00:00:00,100.5,SA\n"
        "2024/01/01 00:30:00,101.5,SA\n"
    )
    (d / "b.csv").write_text(
        "SETTLEMENTDATE,TOTALDEMAND,REGION\n2024/01/01 01:00:00,102.5,SA\n"
    )
    df = read_csv_series(
        spark,
        str(d / "*.csv"),
        ts_col="SETTLEMENTDATE",
        value_col="TOTALDEMAND",
        ts_format="yyyy/MM/dd HH:mm:ss",
        series_id="AEMO/SA",
    )
    rows = df.orderBy("ts").collect()
    assert [r.value for r in rows] == [100.5, 101.5, 102.5]  # U1 union implicit
    assert df.columns == ["series_id", "ts", "value"]  # P1 projection
    assert rows[0].ts.minute == 0 and rows[1].ts.minute == 30


def test_s2_semicolon_csv(spark, tmp_path):
    p = tmp_path / "inpg.csv"
    p.write_text("date_time;conso_global\n01/15/2024 05:00:00;42.5\n")
    df = read_csv_series(
        spark, str(p), ts_col="date_time", value_col="conso_global",
        ts_format="MM/dd/yyyy HH:mm:ss", sep=";", series_id="INPG",
    )
    r = df.collect()[0]
    assert r.value == 42.5 and r.ts.month == 1 and r.ts.day == 15 and r.ts.hour == 5


def test_s4_labeled_benchmark(spark, tmp_path):
    p = tmp_path / "yahoo.csv"
    p.write_text("timestamp,value,is_anomaly\n1,5.0,0\n2,50.0,1\n")
    df = read_labeled_benchmark(spark, str(p))
    rows = df.orderBy("timestamp").collect()
    assert [r.is_anomaly for r in rows] == [0, 1]
    assert dict(df.dtypes) == {"timestamp": "bigint", "value": "double", "is_anomaly": "int"}


def test_s6_s7_window_sink_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [("a", [1.0, 2.0], 0), ("b", [3.0, float("nan")], 1)],
        "series_id string, points array<double>, window_label int",
    )
    # P4: NaN-window suppression before the sink
    clean = src.filter(~F.expr("exists(points, x -> isnan(x))"))
    out = str(tmp_path / "windows")
    write_windows(clean, out, partition_cols=("series_id",))
    back = read_windows(spark, out)
    rows = back.collect()
    assert len(rows) == 1 and rows[0].series_id == "a" and rows[0].points == [1.0, 2.0]


def test_s8_series_csv_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("s", "2024-01-01 00:00:00", 1.5)], "series_id string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = str(tmp_path / "series_csv")
    df.coalesce(1).write.option("header", True).mode("overwrite").csv(out)
    back = (
        spark.read.option("header", True).csv(out)
        .select("series_id", F.to_timestamp("ts").alias("ts"), F.col("value").cast("double"))
    )
    r = back.collect()[0]
    assert r.series_id == "s" and r.value == 1.5 and r.ts.hour == 0


def test_s3_file_quality_gate(spark):
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
        file_quality_gate,
        read_excel_series,
    )

    rows = (
        [("good", float(i % 7 + 1)) for i in range(100)]
        + [("zeros", 0.0 if i < 10 else 1.0) for i in range(100)]  # 10% zeros → reject
        + [("nulls", None if i == 0 else 2.0) for i in range(100)]  # any null → reject
    )
    df = spark.createDataFrame(rows, "_file string, value double")
    kept = file_quality_gate(df, "_file", "value", max_zero_ratio=0.05)
    assert set(r._file for r in kept.select("_file").distinct().collect()) == {"good"}
    assert kept.count() == 100

    _ = read_excel_series  # full ingest covered by test_s3_xlsx_roundtrip


def _write_minimal_xlsx(path, header, rows):
    """Hand-rolled spec-minimal XLSX (zip of XML): inline strings for text,
    plain number cells otherwise — independent of the reader under test."""
    import zipfile

    def cell(ref, v):
        if isinstance(v, str):
            return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
        return f'<c r="{ref}"><v>{v!r}</v></c>'

    def col_letter(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(ord("A") + r) + s
        return s

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    body = []
    for ri, row in enumerate([header, *rows], start=1):
        cells = "".join(cell(f"{col_letter(ci)}{ri}", v) for ci, v in enumerate(row))
        body.append(f'<row r="{ri}">{cells}</row>')
    sheet = f'<?xml version="1.0"?><worksheet {ns}><sheetData>{"".join(body)}</sheetData></worksheet>'
    workbook = (
        f'<?xml version="1.0"?><workbook {ns} '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships '
        'xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships '
        'xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    types = (
        '<?xml version="1.0"?><Types '
        'xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", types)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


@pytest.mark.filterwarnings("error::UserWarning")
def test_s3_xlsx_roundtrip(spark, tmp_path):
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.session import (
        conf_override,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
        read_excel_series,
        read_xlsx,
    )

    # 2024-01-01 00:00 is Excel serial 45292 against the 1899-12-30 epoch
    base = 45292.0
    good = [[base + h / 24.0, float(h % 5 + 1)] for h in range(48)]
    bad = [[base + h / 24.0, 0.0 if h < 10 else 2.0] for h in range(48)]  # >5% zeros
    _write_minimal_xlsx(tmp_path / "b1.xlsx", ["Time", "Power (kW)"], good)
    _write_minimal_xlsx(tmp_path / "b2.xlsx", ["Time", "Power (kW)"], bad)

    pdf = read_xlsx(str(tmp_path / "b1.xlsx"))
    assert list(pdf.columns) == ["Time", "Power (kW)"]
    assert len(pdf) == 48

    out = read_excel_series(
        spark, str(tmp_path / "*.xlsx"), "Time", "Power (kW)", max_zero_ratio=0.05
    )
    rows = out.collect()
    # the zero-heavy file is rejected by the quality gate; the good one stays
    assert {r.series_id.rsplit("/", 1)[-1] for r in rows} == {"b1.xlsx"}
    assert len(rows) == 48
    first = min(rows, key=lambda r: r.ts)
    assert (first.ts.year, first.ts.month, first.ts.day, first.ts.hour) == (2024, 1, 1, 0)
    # createDataFrame stays on Arrow (a fallback warns, which fails this
    # test) and yields the same timestamps as the non-Arrow row path
    with conf_override(spark, **{"spark.sql.execution.arrow.pyspark.enabled": "false"}):
        fallback = read_excel_series(
            spark, str(tmp_path / "*.xlsx"), "Time", "Power (kW)", max_zero_ratio=0.05
        ).collect()
    assert sorted(r.ts for r in rows) == sorted(r.ts for r in fallback)


def test_jsonl_corpus_roundtrip_and_pinned_schema(spark, sf_dir, tmp_path):
    """JSONL interchange: write the documents table as line-delimited JSON,
    read it back with the PINNED schema (no inference pass), and verify the
    corpus is identical; a malformed line must land in _corrupt_record
    rather than failing the scan or widening a column."""
    from pyspark.sql import functions as F

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
        load_table,
        read_jsonl_corpus,
        write_jsonl_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "corpus_jsonl")
    write_jsonl_corpus(docs, path)
    # Spark disallows querying only _corrupt_record on a raw scan — cache
    # the parsed frame first (the documented pattern)
    back = read_jsonl_corpus(spark, path).cache()
    assert back.where(F.col("_corrupt_record").isNotNull()).count() == 0
    sig = lambda d: d.select(
        F.expr("bit_xor(xxhash64(doc_id, text, lang, source, n_chars))").alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    a, b = sig(docs), sig(back.drop("_corrupt_record"))
    assert (a["h"], a["n"]) == (b["h"], b["n"])

    # corrupt line accounting — unpersist first: an identical plan would
    # otherwise resolve to the stale cached relation
    back.unpersist()
    import os

    # a new part file (appending to an existing one would invalidate its
    # Hadoop .crc sidecar) carrying one malformed line
    with open(os.path.join(path, "part-99999-manual.json"), "w") as f:
        f.write('{"doc_id": "not-a-number", "text": [1,2\n')
    bad = read_jsonl_corpus(spark, path).cache()
    assert bad.where(F.col("_corrupt_record").isNotNull()).count() == 1
    assert bad.count() == docs.count() + 1
    bad.unpersist()
