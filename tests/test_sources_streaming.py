"""Sources (S1/S3/S4/S7), sinks, the P2/P3 column-filter DSL, G8
classification, and Structured Streaming over the shared window layer."""

import json
import time

import pytest

from pyspark.sql import functions as F

from phenoxtract_spark.descriptors import (
    Context,
    ContextKind,
    ContextualizedDataFrame,
    Identifier,
    SeriesContext,
    TableContext,
)
from phenoxtract_spark.functions import casting
from phenoxtract_spark.operators import identify, interpret
from phenoxtract_spark.sources import readers, sinks


def test_csv_scan_with_headers(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("sid;age\nP1;47\nP2;33\n")
    cfg = readers.ExtractionConfig(name="t", has_headers=True, separator=";")
    df = readers.read_csv(spark, str(p), cfg)
    assert df.columns == ["sid", "age"]
    assert df.count() == 2
    # the reader types nothing; preprocess's C3 pass decides alone
    assert dict(df.dtypes)["age"] == "string"
    assert dict(casting.ambivalent_cast(df).dtypes)["age"] == "bigint"


def test_csv_scan_then_preprocess_keeps_wide_ints_and_iso_timestamps(spark, tmp_path):
    # the reader returns strings, so preprocess alone types these columns:
    # integers stay exact past 2^53 and past bigint, ISO timestamps without
    # seconds or with millis and a zone are timestamps, times of day stay text
    from phenoxtract_spark.plans.pipeline import Pipeline

    p = tmp_path / "ids.csv"
    p.write_text(
        "sid,n,wide,seen,at,clock\n"
        "12345678901234567,12345678901234567,123456789012345678901,"
        "2020-01-15T10:30:00.123Z,2020-01-15 10:30,10:30:00\n"
        "2,9007199254740993,1,2021-02-01T00:00:00.000Z,2021-02-01 00:00,11:00:00\n"
    )
    df = readers.read_csv(spark, str(p), readers.ExtractionConfig(name="t"))
    ctx = TableContext(
        name="t",
        series_contexts=[
            SeriesContext(identifier=Identifier.of("sid"),
                          data_context=Context(ContextKind.SUBJECT_ID)),
        ],
    )
    [out] = Pipeline().preprocess([ContextualizedDataFrame(df=df, context=ctx)])
    dtypes = dict(out.df.dtypes)
    assert (dtypes["sid"], dtypes["n"], dtypes["wide"]) == ("string", "bigint", "decimal(38,0)")
    assert (dtypes["seen"], dtypes["at"], dtypes["clock"]) == ("timestamp", "timestamp", "string")
    rows = out.df.orderBy("n").collect()
    assert [r["sid"] for r in rows] == ["2", "12345678901234567"]
    assert [r["n"] for r in rows] == [9007199254740993, 12345678901234567]
    assert [str(r["wide"]) for r in rows] == ["1", "123456789012345678901"]
    assert str(rows[1]["at"]) == "2020-01-15 10:30:00"


def test_csv_scan_headerless_default_names(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("P1,fever\nP2,cough\n")
    cfg = readers.ExtractionConfig(name="t", has_headers=False)
    df = readers.read_csv(spark, str(p), cfg)
    assert df.columns == ["0", "1"]  # S4 synthetic names


def test_csv_scan_transposed(spark, tmp_path):
    # patients are COLUMNS (S3): first column holds the row labels
    p = tmp_path / "data.csv"
    p.write_text("field,P1,P2\nPatient ID,P1,P2\nHP:0000001,true,false\n")
    cfg = readers.ExtractionConfig(name="t", has_headers=True, patients_are_rows=False)
    df = readers.read_csv(spark, str(p), cfg)
    assert set(df.columns) == {"field", "Patient ID", "HP:0000001"}
    rows = {r["Patient ID"]: r["HP:0000001"] for r in df.collect()}
    assert rows == {"P1": "true", "P2": "false"}


def test_csv_scan_transposed_keeps_file_order_across_splits(spark, tmp_path):
    # each file row becomes an output column: a file read as several input
    # splits must still yield the columns (and patients) in file order
    p = tmp_path / "wide.csv"
    n_rows, patients = 200, ["P3", "P1", "P2"]
    lines = ["Patient ID," + ",".join(patients)]
    lines += [f"field_{i:03d}," + ",".join(f"v{i}_{s}" for s in patients)
              for i in range(n_rows)]
    p.write_text("\n".join(lines) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        assert spark.read.csv(str(p)).rdd.getNumPartitions() >= 2
        cfg = readers.ExtractionConfig(name="t", has_headers=True, patients_are_rows=False)
        df = readers.read_csv(spark, str(p), cfg)
    finally:
        spark.conf.set(key, old)
    assert df.columns == ["Patient ID"] + [f"field_{i:03d}" for i in range(n_rows)]
    got = df.collect()
    assert [r["Patient ID"] for r in got] == patients
    assert [r["field_137"] for r in got] == [f"v137_{s}" for s in patients]


def test_csv_scan_rownum_keeps_file_order_across_splits(spark, tmp_path):
    # patients are rows: the ingest row number is a JVM expression on the
    # file scan, and sorting by it gives file order across input splits
    p = tmp_path / "long.csv"
    sids = [f"P{(i * 7919) % 1000:04d}" for i in range(300)]
    p.write_text("sid,v\n" + "".join(f"{s},{i}\n" for i, s in enumerate(sids)))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        cfg = readers.ExtractionConfig(name="t")
        df = readers.read_csv(spark, str(p), cfg, attach_rownum=True)
        assert df.rdd.getNumPartitions() >= 2
        got = [r["sid"] for r in df.orderBy(readers.INGEST_ROWNUM).collect()]
    finally:
        spark.conf.set(key, old)
    assert got == sids
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]
    assert names == ["LogicalRelation"], names


def test_config_loader_env_expansion(tmp_path, monkeypatch):
    monkeypatch.setenv("PXS_TEST_NAME", "cohort42")
    p = tmp_path / "cfg.json"
    p.write_text('{"name": "${PXS_TEST_NAME}", "n": 3}')
    cfg = readers.load_config(str(p))
    assert cfg == {"name": "cohort42", "n": 3}


def test_alias_map_csv(spark, tmp_path):
    p = tmp_path / "aliases.csv"
    p.write_text("raw,canonical\nno_info,\nfever,Fever\n")
    dim = readers.read_alias_map_csv(spark, str(p), "raw", "canonical")
    rows = {r["key"]: r["value"] for r in dim.collect()}
    assert rows == {"no_info": None, "fever": "Fever"}


def test_jsonl_sink(spark, tmp_path):
    df = spark.createDataFrame([("P1", '{"id":"P1"}')], "subject_id string, packet_json string")
    out = str(tmp_path / "out")
    sinks.write_jsonl(df, out)
    import glob

    files = glob.glob(f"{out}/part-*")
    assert files and json.loads("".join(open(f).read() for f in files).strip()) == {"id": "P1"}


def test_column_filter_dsl(spark):
    df = spark.createDataFrame(
        [("P1", "fever", "2020-01-01", 5)],
        "sid string, hpo string, onset string, num int",
    )
    ctx = TableContext(
        name="t",
        series_contexts=[
            SeriesContext(identifier=Identifier.of("sid"), data_context=Context.subject_id()),
            SeriesContext(
                identifier=Identifier.of("hpo"),
                data_context=Context(ContextKind.HPO),
                building_block_id="A",
            ),
            SeriesContext(
                identifier=Identifier.of("onset"),
                data_context=Context(ContextKind.ONSET),
                building_block_id="A",
            ),
        ],
    )
    cdf = ContextualizedDataFrame(df=df, context=ctx)
    assert identify.ColumnFilter().where_data_kind(ContextKind.HPO).collect(cdf) == ["hpo"]
    assert identify.ColumnFilter().where_building_block("A").collect(cdf) == ["hpo", "onset"]
    assert identify.ColumnFilter().where_building_block(
        identify.ColumnFilter.NONE
    ).collect(cdf) == ["sid", "num"]
    assert identify.ColumnFilter().where_data_type("int").collect(cdf) == ["num"]
    assert identify.ColumnFilter().where_data_kind(
        ContextKind.HPO, not_=True
    ).where_data_type("string").collect(cdf) == ["sid", "onset"]


def test_drop_all_null_columns(spark):
    df = spark.createDataFrame(
        [("P1", None, 1), ("P2", None, None)], "sid string, dead string, partial int"
    )
    out = identify.drop_all_null_columns(df)
    assert out.columns == ["sid", "partial"]


def test_classify_gene_variant(spark):
    cases = [
        ([], [], "NONE"),
        (["g"], [], "CAUSATIVE_GENE"),
        (["g"], ["v1"], "SINGLE"),
        ([], ["v1", "v1"], "HOMOZYGOUS"),
        (["g"], ["v1", "v2"], "COMPOUND_HET"),
    ]
    df = spark.createDataFrame(
        [(g, v) for g, v, _ in cases], "genes array<string>, variants array<string>"
    )
    out = [
        r["s"]
        for r in df.select(
            interpret.classify_gene_variant(F.col("genes"), F.col("variants")).alias("s")
        ).collect()
    ]
    assert out == [c[2] for c in cases]


def test_streaming_tumbling_window(spark, tmp_path):
    """Structured Streaming parity: the same window expression layer runs on
    a readStream source with a watermark (memory sink, one trigger)."""
    from phenoxtract_spark.streaming import events as ev

    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "click"),
            ("2024-01-01 00:20:00", "click"),
            ("2024-01-01 01:05:00", "view"),
        ],
        "ts_raw string, event_type string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    stream = (
        spark.readStream.schema("ts_raw string, event_type string")
        .parquet(str(src_dir))
        .select(F.col("ts_raw").cast("timestamp").alias("ts"), "event_type")
    )
    out = ev.streaming_tumbling(spark, stream, "1 hour", "2 hours")
    query = (
        out.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(60)
    rows = spark.sql("SELECT * FROM tumbling_test ORDER BY window_start, event_type").collect()
    got = [(str(r["window_start"]), r["event_type"], r["n_events"]) for r in rows]
    assert got == [
        ("2024-01-01 00:00:00", "click", 2),
        ("2024-01-01 01:00:00", "view", 1),
    ]


def test_excel_reader_rejects_corrupt_workbook(spark, tmp_path):
    """S2: the stdlib OOXML reader (no openpyxl needed) fails loudly on a
    corrupt workbook instead of returning an empty frame.  Real decode
    coverage lives in test_xlsx_reader.py."""
    fake = tmp_path / "cohort.xlsx"
    fake.write_bytes(b"PK\x03\x04 not a real workbook")
    cfg = readers.ExtractionConfig(name="xl")
    with pytest.raises(Exception, match="(?i)zip|workbook|archive"):
        readers.read_excel(spark, str(fake), cfg)


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join: clicks attach to prior impressions within
    the delay bound; state bounded by watermarks on both sides."""
    from phenoxtract_spark.streaming import events as ev

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100), (2, "2024-01-01 10:05:00", 101)],
        "user_id bigint, ts_raw string, event_id bigint",
    ).coalesce(1).write.parquet(str(imp_dir))
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:30:00", 200),   # within 1h of imp 100 → joins
            (2, "2024-01-01 11:30:00", 201),   # 85min after imp 101 → dropped
        ],
        "user_id bigint, ts_raw string, event_id bigint",
    ).coalesce(1).write.parquet(str(clk_dir))

    def stream(d):
        return (
            spark.readStream.schema("user_id bigint, ts_raw string, event_id bigint")
            .parquet(str(d))
            .select("user_id", F.col("ts_raw").cast("timestamp").alias("ts"), "event_id")
        )

    out = ev.stream_stream_join(stream(imp_dir), stream(clk_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        (r["user_id"], r["impression_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ss_join_test").collect()
    ]
    assert rows == [(1, 100, 200)]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark parity: re-delivered event_ids inside
    the watermark horizon are dropped; state stays watermark-bounded."""
    from phenoxtract_spark.streaming import events as ev

    src_dir = tmp_path / "dedup_src"
    src_dir.mkdir()
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", "click"),
            (1, "2024-01-01 00:10:30", "click"),   # redelivery of event 1
            (2, "2024-01-01 00:20:00", "view"),
            (2, "2024-01-01 00:20:00", "view"),    # exact duplicate
            (3, "2024-01-01 00:40:00", "click"),
        ],
        "event_id bigint, ts_raw string, event_type string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    stream = (
        spark.readStream.schema("event_id bigint, ts_raw string, event_type string")
        .parquet(str(src_dir))
        .select("event_id", F.col("ts_raw").cast("timestamp").alias("ts"), "event_type")
    )
    out = ev.streaming_dedup(stream, keys=("event_id",), watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT event_id FROM dedup_test ORDER BY event_id").collect()
    assert [r["event_id"] for r in rows] == [1, 2, 3]
    # batch degradation: same function, plain dedup
    batch = df.select("event_id", F.col("ts_raw").cast("timestamp").alias("ts"), "event_type")
    assert ev.streaming_dedup(batch).count() == 3


def test_gapfill_hourly_materializes_zeros(spark):
    from phenoxtract_spark.streaming import events as ev

    df = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "click"),
            ("2024-01-01 03:20:00", "click"),   # hours 1-2 are gaps
            ("2024-01-01 01:00:00", "view"),
        ],
        "ts_raw string, event_type string",
    ).select(F.col("ts_raw").cast("timestamp").alias("ts"), "event_type")
    out = {
        (str(r["bucket"]), r["event_type"]): r["n_events"]
        for r in ev.gapfill_hourly(df).collect()
    }
    # dense: 4 hours x 2 types = 8 rows
    assert len(out) == 8
    assert out[("2024-01-01 00:00:00", "click")] == 1
    assert out[("2024-01-01 01:00:00", "click")] == 0
    assert out[("2024-01-01 02:00:00", "view")] == 0
    assert out[("2024-01-01 03:00:00", "click")] == 1


def test_locf_carries_last_value_across_gaps(spark):
    from phenoxtract_spark.streaming import events as ev

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:30:00", 1, 10.0),
            (2, "2024-01-01 00:45:00", 1, 20.0),  # later obs in same bucket wins
            (3, "2024-01-01 03:15:00", 1, 30.0),  # hours 1-2 carried at 20.0
            (4, "2024-01-01 05:00:00", 2, 99.0),
        ],
        "event_id bigint, ts_raw string, user_id bigint, value double",
    ).select("event_id", F.col("ts_raw").cast("timestamp").alias("ts"), "user_id", "value")
    out = {
        (r["user_id"], str(r["bucket"])): r["value"]
        for r in ev.locf_resample(df, tiebreak="event_id").collect()
    }
    assert out[(1, "2024-01-01 00:00:00")] == 20.0
    assert out[(1, "2024-01-01 01:00:00")] == 20.0
    assert out[(1, "2024-01-01 02:00:00")] == 20.0
    assert out[(1, "2024-01-01 03:00:00")] == 30.0
    assert (1, "2024-01-01 04:00:00") not in out  # span ends at last obs
    assert out[(2, "2024-01-01 05:00:00")] == 99.0


def test_stream_static_enrich(spark, tmp_path):
    """Streaming facts enrich against a static broadcast dim; rows with no
    dim match keep NULL attributes (left join), and the same operator runs
    identically in batch."""
    from phenoxtract_spark.streaming import events as ev

    src = tmp_path / "enrich_src"
    src.mkdir()
    facts = [(1, 10.0), (2, 20.0), (99, 5.0)]
    spark.createDataFrame(facts, "user_id bigint, value double").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "b1"))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id bigint, tier string"
    )
    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .parquet(str(src / "*"))
    )
    out = ev.stream_static_enrich(stream, dim)
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r["tier"]
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    assert got == {1: "gold", 2: "silver", 99: None}
    # batch degradation: identical operator, identical result
    batch = {
        r["user_id"]: r["tier"]
        for r in ev.stream_static_enrich(
            spark.createDataFrame(facts, "user_id bigint, value double"), dim
        ).collect()
    }
    assert batch == got


def test_streaming_tumbling_append_drops_late_data(spark, tmp_path):
    """Watermark late-data semantics under append mode, pinned with the
    REAL Spark contract: a late row whose window state is still live is
    merged (the delay allowance), and a late row arriving AFTER its
    window was finalized and evicted is DROPPED — observable both in
    the per-batch numRowsDroppedByWatermark metric and in the emitted
    count, which the batch-mode aggregation over the same rows
    contradicts (2 vs 3)."""
    import os
    from phenoxtract_spark.streaming import events as ev

    src = tmp_path / "late_src"
    src.mkdir()
    schema = "ts_raw string, event_type string"
    batches = [
        # batch 0: the 00:00 window's two clicks + a 02:05 row that will
        # move the watermark to 01:05 once the batch commits
        [("2024-01-01 00:10:00", "click"), ("2024-01-01 00:20:00", "click"),
         ("2024-01-01 02:05:00", "view")],
        # batch 1 (wm 01:05): finalizes + evicts the 00:00 window (n=2)
        [("2024-01-01 04:00:00", "view")],
        # batch 2 (wm 03:00): the 00:30 click is late AND its window is
        # gone -> dropped by the watermark, not merged
        [("2024-01-01 00:30:00", "click"), ("2024-01-01 06:00:00", "view")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(str(src))
    # the file source triggers batches oldest-mtime-first: make the
    # ordering explicit instead of trusting write-timestamp granularity
    files = sorted(
        (os.path.getmtime(os.path.join(src, p)), p)
        for p in os.listdir(src) if p.endswith(".parquet")
    )
    base = files[0][0]
    for i, (_, p) in enumerate(files):
        os.utime(os.path.join(src, p), (base + 10 * i, base + 10 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .select(F.col("ts_raw").cast("timestamp").alias("ts"), "event_type")
    )
    out = ev.streaming_tumbling(spark, stream, "1 hour", "1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("late_drop_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress if p["stateOperators"]
    )
    assert dropped == 1  # exactly the post-eviction late click
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM late_drop_test").collect()
    }
    # the finalized 00:00 window never saw the dropped late row
    assert got[("2024-01-01 00:00:00", "click")] == 2
    # batch mode over the union of all rows counts it (the contrast)
    allrows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    ).select(
        F.col("ts_raw").cast("timestamp").alias("ts"), "event_type",
        F.lit(1.0).alias("value"),
    )
    batch = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in ev.tumbling(allrows, "1 hour").collect()
    }
    assert batch[("2024-01-01 00:00:00", "click")] == 3


def test_builtin_session_window_stream_equals_batch(spark, tmp_path):
    """Spark's BUILT-IN session_window under a real streaming query
    (append mode, watermark, two micro-batches) agrees with the batch
    F.session_window over the same rows for every CLOSED session — the
    native-state complement to the applyInPandasWithState sessionizer
    already pinned in test_stateful_streaming."""
    import os
    from phenoxtract_spark.streaming import events as ev

    src = tmp_path / "sess_src"
    src.mkdir()
    schema = "user_id bigint, ts_raw string"
    batches = [
        # u1: two sessions (gap > 30m); u2: one session
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
         (1, "2024-01-01 02:00:00"), (2, "2024-01-01 00:05:00")],
        # late-window traffic that closes everything via the watermark
        [(3, "2024-01-01 09:00:00")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(str(src))
    files = sorted(
        (os.path.getmtime(os.path.join(src, p)), p)
        for p in os.listdir(src) if p.endswith(".parquet")
    )
    base = files[0][0]
    for i, (_, p) in enumerate(files):
        os.utime(os.path.join(src, p), (base + 10 * i, base + 10 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .select("user_id", F.col("ts_raw").cast("timestamp").alias("ts"))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_parity")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n_events
        for r in spark.sql("SELECT * FROM sess_parity").collect()
    }
    allrows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    ).select("user_id", F.col("ts_raw").cast("timestamp").alias("ts"))
    batch = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n_events
        for r in ev.session_windows(allrows, gap="30 minutes").collect()
    }
    # every streamed (closed) session matches batch exactly; u3's session
    # stays open (watermark never passes 09:00 + 30m), hence subset
    assert got, "no sessions emitted"
    assert set(got) <= set(batch)
    for k, v in got.items():
        assert batch[k] == v
    # the three closed sessions all emitted
    assert (1, "2024-01-01 00:00:00", "2024-01-01 00:40:00") in got
    assert (1, "2024-01-01 02:00:00", "2024-01-01 02:30:00") in got
    assert (2, "2024-01-01 00:05:00", "2024-01-01 00:35:00") in got
