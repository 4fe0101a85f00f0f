from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_data_engineering_workshop_spark.sources import formats as fmt
from gcp_data_engineering_workshop_spark.sources.ticks import ticks


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    d = str(tmp_path / "jsonl")
    src = ticks(spark, sf_dir)
    src.write.mode("overwrite").json(d)
    schema = ("ticker string, ts timestamp, price double, volume bigint, "
              "ai_sentiment double, ai_summary string")
    back = fmt.read_jsonl(spark, d, schema)
    assert back.count() == src.count()
    assert dict(back.dtypes)["ts"] == "timestamp"


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    d = str(tmp_path / "csv")
    src = ticks(spark, sf_dir).select("ticker", "price", "volume")
    src.write.mode("overwrite").option("header", "true").csv(d)
    back = fmt.read_csv(spark, d, "ticker string, price double, volume bigint")
    assert back.count() == src.count()
    assert back.agg(F.sum("volume")).collect()[0][0] == \
        src.agg(F.sum("volume")).collect()[0][0]


def test_partitioned_writer_prunes(spark, sf_dir, tmp_path):
    d = str(tmp_path / "part")
    src = ticks(spark, sf_dir)
    fmt.write_partitioned_parquet(src, d, ("ticker",))
    assert os.path.isdir(os.path.join(d, "ticker=click"))
    back = fmt.read_parquet(spark, d).where(F.col("ticker") == "click")
    # partition pruning: only the click directory is scanned
    assert "ticker=click" in back._jdf.queryExecution().executedPlan().toString() \
        or back.count() == src.where(F.col("ticker") == "click").count()


def test_parquet_projection_pushdown(spark, sf_dir):
    df = fmt.read_parquet(spark, f"{sf_dir}/lineitem.parquet",
                          ("l_orderkey", "l_quantity"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_extendedprice" not in plan  # pruned at the scan


def test_jsonl_malformed_records_quarantined(spark, tmp_path):
    """At-scale ingestion concern: malformed messages must be
    quarantined (PERMISSIVE + _corrupt_record), not fail the job."""
    d = str(tmp_path / "bad"); os.makedirs(d)
    with open(os.path.join(d, "part.json"), "w") as f:
        f.write('{"ticker": "A", "price": 1.5, "volume": 2}\n')
        f.write('not json at all\n')
        f.write('{"ticker": "B", "price": 2.5, "volume": 3}\n')
    schema = "ticker string, price double, volume bigint, _corrupt_record string"
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(d))
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(good) == 2 and len(bad) == 1
    assert bad[0]._corrupt_record == "not json at all"


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """E8: ORC write/read roundtrip; filters and projections reach
    the ORC scan like they do for parquet."""
    from gcp_data_engineering_workshop_spark.sources import formats as FMT
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from pyspark.sql import functions as F

    path = str(tmp_path / "orders_orc")
    orders = load_table(spark, "orders", sf_dir)
    FMT.write_orc(orders, path)
    rd = FMT.read_orc(spark, path, columns=("o_orderkey", "o_totalprice"))
    flt = rd.where(F.col("o_totalprice") > 1000.0)
    assert flt.count() == orders.where(F.col("o_totalprice") > 1000.0).count()
    scan = flt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" \
        in scan
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in scan


def test_dynamic_partition_overwrite_keeps_other_partitions(spark, sf_dir, tmp_path):
    """E9: rewriting ONE partition must not truncate the others (the
    idempotent daily-backfill contract)."""
    from gcp_data_engineering_workshop_spark.sources import formats as FMT
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
         ("2024-01-02", 3, 30.0)],
        "day string, id int, v double")
    FMT.overwrite_partitions(df, path, ("day",))
    # backfill day 1 with corrected values only
    fix = spark.createDataFrame([("2024-01-01", 1, 99.0)],
                                "day string, id int, v double")
    FMT.overwrite_partitions(fix, path, ("day",))
    out = spark.read.parquet(path)
    assert out.where(F.col("day") == "2024-01-02").count() == 1  # untouched
    d1 = out.where(F.col("day") == "2024-01-01").collect()
    assert len(d1) == 1 and d1[0].v == 99.0                      # replaced


def test_binary_file_reader(spark, tmp_path):
    import os
    blob_dir = tmp_path / "blobs"
    os.makedirs(blob_dir)
    (blob_dir / "a.img").write_bytes(b"\x89IMG" + bytes(64))
    (blob_dir / "b.img").write_bytes(b"\x89IMG" + bytes(128))
    (blob_dir / "skip.txt").write_bytes(b"not a blob")
    df = fmt.read_binary_files(spark, str(blob_dir), glob="*.img")
    rows = {os.path.basename(r.path): r for r in df.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert rows["a.img"].length == 68 and len(rows["a.img"].content) == 68
    assert bytes(rows["b.img"].content[:4]) == b"\x89IMG"


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """E4's payoff: a filter on the partition column must prune
    directories at planning time (PartitionFilters, partition count),
    not scan-and-discard."""
    from pyspark.sql import functions as F
    from gcp_data_engineering_workshop_spark.catalog import load_table
    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value")
    fmt.write_partitioned_parquet(ev, out, ("event_type",))
    got = spark.read.parquet(out).where(F.col("event_type") == "purchase")
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf is not None and "= purchase)" in pf.group(1)  # pruned at listing
    # and the predicate must NOT fall through to a row-level filter scan
    assert "PushedFilters: [IsNotNull(event_type)" not in plan
    # semantic check: row parity with the unpartitioned source
    want = ev.where(F.col("event_type") == "purchase").count()
    assert got.count() == want


def test_observation_metrics_ride_the_action(spark, sf_dir):
    """E12: data-quality metrics come from the SAME pass as the
    consuming action — values must equal a dedicated aggregation's."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    ev = load_table(spark, "events", sf_dir)
    inst, obs = fmt.observed(
        ev, "quality",
        n_rows=F.count(F.lit(1)),
        null_users=F.sum(F.isnull("user_id").cast("bigint")),
        max_value=F.max("value"))
    n = inst.count()  # the action that also materializes the metrics
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_users"] == 0
    want_max = ev.agg(F.max("value")).collect()[0][0]
    assert got["max_value"] == want_max


def test_python_datasource_deterministic_ticks(spark):
    """E13: the custom Python DataSource plans real partitions and
    regenerates bit-identical data on every read (retry safety)."""
    from gcp_data_engineering_workshop_spark.sources.pydatasource import (
        register_tick_source)
    register_tick_source(spark)
    rd = (spark.read.format("synthetic_ticks")
          .option("n_rows", "1000").option("num_partitions", "8").load())
    assert rd.rdd.getNumPartitions() == 8
    a = sorted((r.tick_id, r.ticker, r.price, r.volume) for r in rd.collect())
    b = sorted((r.tick_id, r.ticker, r.price, r.volume) for r in
               spark.read.format("synthetic_ticks")
               .option("n_rows", "1000").option("num_partitions", "4")
               .load().collect())
    assert a == b and len(a) == 1000          # partitioning-independent
    assert len({t for _, t, _, _ in a}) == 5  # n_tickers default
    # the source feeds the standard 1-min agg path
    agg = (rd.groupBy("ticker", F.window("ts", "1 minute"))
           .agg(F.sum("volume").alias("v")))
    # each of the 5 tickers emits exactly one row per minute over 200
    # minutes -> one group per input row
    assert agg.count() == 1000


def test_compact_parquet_shrinks_file_count(spark, sf_dir, tmp_path):
    """E14: 64 tiny files compact to the size-derived target count
    with identical data, and the rewrite plan is shuffle-free
    (coalesce = narrow dependency, no Exchange)."""
    src, dst = str(tmp_path / "tiny"), str(tmp_path / "compact")
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d.repartition(64).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) == 64
    n_files = fmt.compact_parquet(spark, src, dst,
                                  target_bytes=64 * 1024 * 1024)
    assert n_files == 1  # well under one 64MB target
    before = sorted(map(tuple, d.collect()))
    after = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert before == after
    plan = (spark.read.parquet(src).coalesce(1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_schema_evolution_merge(spark, tmp_path):
    """E15: a column added by a later batch appears table-wide under
    mergeSchema, null for pre-evolution files; the plain read keeps
    the old schema (footer merging is opt-in)."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, v string") \
        .write.parquet(path)
    spark.createDataFrame([(2, "b", 9.5)], "id bigint, v string, score double") \
        .write.mode("append").parquet(path)
    merged = fmt.read_parquet_evolving(spark, path)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_timestamp_filter_pushdown_survives_load_table(spark, sf_dir):
    """Timestamp predicates must reach the parquet scan regardless of
    the driver's timestamp encoding (nanos-as-long or TIMESTAMP_NTZ).
    Regression test: an NTZ->LTZ .cast() projection on the scan
    column silently emptied PushedFilters — load_table must instead
    surface the column as TIMESTAMP at the scan itself."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, "lineitem", sf_dir)
    assert dict(li.dtypes)["l_shipdate"] == "timestamp"
    flt = li.where(F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00")) \
        .select("l_quantity")
    scan = flt._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(l_shipdate" in scan, scan[:600]


def _write_bar_dump(path, n_minutes=6, tickers=("AAA", "BBB", "CCC")):
    """Deterministic minute-bar CSV: the yf.download-style dump the
    bar_replay source reads."""
    import csv
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 3, 1, 9, 30)
    for m in range(n_minutes):
        for k, tk in enumerate(tickers):
            o = 100.0 + m + k
            rows.append({"ticker": tk,
                         "ts": (t0 + dt.timedelta(minutes=m)).isoformat(sep=" "),
                         "open": o, "high": o + 1.0, "low": o - 1.0,
                         "close": o + 0.5, "volume": 10 * (m + 1) + k})
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
    return rows


def test_bar_replay_batch_reader(spark, tmp_path):
    """E17 batch: the file-backed OHLCV dump reads back exactly,
    planned into minute-range shards."""
    from gcp_data_engineering_workshop_spark.sources.pydatasource import (
        register_bar_replay_source)

    p = str(tmp_path / "bars.csv")
    want = _write_bar_dump(p)
    register_bar_replay_source(spark)
    df = spark.read.format("bar_replay").option("path", p).load()
    assert df.columns == ["ticker", "ts", "open", "high", "low",
                          "close", "volume"]
    got = {(r.ticker, r.ts.isoformat(sep=" "), r.open, r.close, r.volume)
           for r in df.collect()}
    assert got == {(w["ticker"], w["ts"], w["open"], w["close"], w["volume"])
                   for w in want}
    assert df.rdd.getNumPartitions() == 4


def test_bar_replay_minute_selection_matches_reference_cursor(spark, tmp_path):
    """The reference replays minute (cursor %% total_minutes) of the
    dump (main.py:70-75). Selecting that minute from the batch read
    must yield exactly that minute's bars for every ticker."""
    from gcp_data_engineering_workshop_spark.sources.pydatasource import (
        register_bar_replay_source)

    p = str(tmp_path / "bars.csv")
    _write_bar_dump(p, n_minutes=5)
    register_bar_replay_source(spark)
    df = spark.read.format("bar_replay").option("path", p).load()
    minutes = [r.m for r in
               df.select(F.col("ts").alias("m")).distinct()
                 .orderBy("m").collect()]
    cursor = 7  # 7 % 5 -> minute index 2
    target = minutes[cursor % len(minutes)]
    got = df.where(F.col("ts") == target).collect()
    assert len(got) == 3 and all(r.ts == target for r in got)
    assert {r.ticker for r in got} == {"AAA", "BBB", "CCC"}


def test_bar_replay_stream_one_minute_per_batch(spark, tmp_path):
    """E17 streaming: the replay emits ONE minute per micro-batch
    (offset = minute index), the streamed union equals the batch
    read, and a checkpoint restart resumes mid-replay without
    duplicating or skipping bars."""
    from gcp_data_engineering_workshop_spark.sources.pydatasource import (
        register_bar_replay_source)

    p = str(tmp_path / "bars.csv")
    _write_bar_dump(p, n_minutes=6)
    register_bar_replay_source(spark)

    q = (spark.readStream.format("bar_replay").option("path", p).load()
         .writeStream.format("memory").queryName("bar_stream")
         .option("checkpointLocation", str(tmp_path / "mem_ckpt"))
         .outputMode("append").start())
    q.processAllAvailable()
    n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
    q.stop()
    got = [(r.ticker, r.ts, r.open, r.volume)
           for r in spark.table("bar_stream").collect()]
    want = [(r.ticker, r.ts, r.open, r.volume)
            for r in spark.read.format("bar_replay").option("path", p)
            .load().collect()]
    assert sorted(got) == sorted(want) and len(got) == 18
    assert n_batches >= 6  # one minute per micro-batch

    # checkpointed file sink: run the replay to completion, then
    # restart from the same checkpoint — the resumed query must add
    # NOTHING (exactly-once resume via minute-index offsets, not a
    # re-replay from minute 0)
    out, ckpt = str(tmp_path / "bar_out"), str(tmp_path / "bar_ckpt")

    def start_file_sink():
        return (spark.readStream.format("bar_replay").option("path", p)
                .load()
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append").start())

    q1 = start_file_sink()
    q1.processAllAvailable()
    q1.stop()
    assert spark.read.parquet(out).count() == 18
    q2 = start_file_sink()
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == 18


def test_xml_roundtrip_with_schema(spark, sf_dir, tmp_path):
    """E18: XML write/read roundtrip; explicit schema skips the
    inference scan and value fidelity holds across the format."""
    from gcp_data_engineering_workshop_spark.sources import formats as FMT
    from gcp_data_engineering_workshop_spark.catalog import load_table

    path = str(tmp_path / "nation_xml")
    nation = load_table(spark, "nation", sf_dir)
    FMT.write_xml(nation, path, row_tag="nation")
    rd = FMT.read_xml(
        spark, path, row_tag="nation",
        schema="n_nationkey bigint, n_name string, n_regionkey bigint")
    got = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in rd.collect()}
    want = {(r.n_nationkey, r.n_name, r.n_regionkey)
            for r in nation.select("n_nationkey", "n_name",
                                   "n_regionkey").collect()}
    assert got == want and len(got) > 0


def test_zorder_interleave_golden(spark):
    """interleave_bits(3, 5) = 0b100111 = 39 (a-bits at even
    positions, b-bits at odd) — checked against an independent
    Python interleave over a value grid."""
    from pyspark.sql import functions as F
    from gcp_data_engineering_workshop_spark.sources.layout import (
        interleave_bits)

    def ref(a, b):
        return sum(((a >> i) & 1) << (2 * i) for i in range(16)) \
            | sum(((b >> i) & 1) << (2 * i + 1) for i in range(16))

    assert ref(3, 5) == 39
    pairs = [(a, b) for a in range(0, 700, 57) for b in range(0, 700, 61)]
    df = spark.createDataFrame(pairs, "a int, b int")
    got = {(r.a, r.b): r.z for r in df.select(
        "a", "b", interleave_bits(F.col("a"), F.col("b")).alias("z"))
        .collect()}
    assert all(got[(a, b)] == ref(a, b) for a, b in pairs)


def test_zorder_layout_prunes_files(spark, sf_dir, tmp_path):
    """The point of the layout: under a 2-D box predicate, far fewer
    z-ordered files intersect the box (by min/max footer stats —
    what file-skipping catalogs and parquet row-group pruning use)
    than under a single-column sort layout, with the data itself
    unchanged."""
    from pyspark.sql import functions as F
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.sources.layout import (
        file_ranges, write_zordered)

    li = load_table(spark, "lineitem", sf_dir) \
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    n_files = 16
    z_path, lin_path = str(tmp_path / "z"), str(tmp_path / "lin")
    write_zordered(li, z_path, "l_partkey", "l_suppkey", n_files=n_files)
    # baseline: sorted by ONE dimension only
    (li.repartitionByRange(n_files, "l_partkey")
       .sortWithinPartitions("l_partkey")
       .write.mode("overwrite").parquet(lin_path))

    # box predicate: middle quarter of each dimension
    lo_a, hi_a, lo_b, hi_b = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey")).collect()[0]
    qa = (hi_a - lo_a) // 4
    qb = max((hi_b - lo_b) // 4, 1)
    box = dict(a_lo=lo_a + qa, a_hi=lo_a + 2 * qa,
               b_lo=lo_b + qb, b_hi=lo_b + 2 * qb)

    def intersecting(path, a_rng=None, b_rng=None):
        hits = 0
        for fr in file_ranges(path, ["l_partkey", "l_suppkey"]):
            (amin, amax), (bmin, bmax) = fr["l_partkey"], fr["l_suppkey"]
            ok = True
            if a_rng:
                ok = ok and amin <= a_rng[1] and amax >= a_rng[0]
            if b_rng:
                ok = ok and bmin <= b_rng[1] and bmax >= b_rng[0]
            hits += ok
        return hits

    a_rng = (box["a_lo"], box["a_hi"])
    b_rng = (box["b_lo"], box["b_hi"])
    # the z-order tradeoff, asserted both ways: the 1-D sort prunes
    # its OWN dimension perfectly but its files all spray the other
    # dimension (zero pruning); the z-layout prunes BOTH dimensions.
    lin_b = intersecting(lin_path, b_rng=b_rng)
    assert lin_b == n_files  # 1-D layout: worst-case dim reads ALL
    z_a = intersecting(z_path, a_rng=a_rng)
    z_b = intersecting(z_path, b_rng=b_rng)
    # 16 files ~ 4 curve-prefix bits ~ 2 bits/dim: each dimension
    # prunes to ~half the files plus curve straddlers — strictly
    # better than the 1-D layout's zero pruning on dim b, strictly
    # worse than its perfect pruning on dim a. That tradeoff IS the
    # z-order contract (worst case collapses, best case degrades
    # gracefully); granularity tightens as n_files grows.
    assert z_b < lin_b and z_b <= 3 * n_files // 4, (z_b, lin_b)
    assert z_a <= 3 * n_files // 4, z_a
    # combined 2-D box: close to the 1-D layout's best case
    lin_box = intersecting(lin_path, a_rng=a_rng, b_rng=b_rng)
    z_box = intersecting(z_path, a_rng=a_rng, b_rng=b_rng)
    assert z_box <= n_files // 2 and z_box <= lin_box + 2, \
        (z_box, lin_box)

    # layout is physical only: row multiset and filtered counts agree
    zr = spark.read.parquet(z_path)
    assert zr.count() == li.count()
    pred = (F.col("l_partkey").between(box["a_lo"], box["a_hi"])
            & F.col("l_suppkey").between(box["b_lo"], box["b_hi"]))
    assert zr.where(pred).count() == li.where(pred).count()


def test_zorder_3d_interleave_and_layout(spark, sf_dir, tmp_path):
    """3-D Morton interleave matches an independent Python reference,
    and the 3-D layout gives every dimension non-trivial file
    pruning (the 1-D sort gives two of them none)."""
    from pyspark.sql import functions as F
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.sources.layout import (
        file_ranges, interleave_bits_n, write_zordered_n)

    def ref(vals, bits, n):
        return sum(((v >> i) & 1) << (i * n + d)
                   for d, v in enumerate(vals) for i in range(bits))

    trip = [(a, b, c) for a in (0, 3, 117, 255)
            for b in (0, 5, 64) for c in (1, 200, 4095)]
    df = spark.createDataFrame(trip, "a int, b int, c int")
    got = {(r.a, r.b, r.c): r.z for r in df.select(
        "a", "b", "c",
        interleave_bits_n([F.col("a"), F.col("b"), F.col("c")],
                          bits=12).alias("z")).collect()}
    assert all(got[t] == ref(t, 12, 3) for t in trip)

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey")
    n_files = 16
    path = str(tmp_path / "z3")
    write_zordered_n(li, path, ["l_orderkey", "l_partkey", "l_suppkey"],
                     n_files=n_files)
    frs = file_ranges(path, ["l_orderkey", "l_partkey", "l_suppkey"])
    assert len(frs) == n_files
    assert spark.read.parquet(path).count() == li.count()
    # every dimension's per-file ranges must be narrower than the
    # full span for most files (i.e. its stats can prune)
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        lo = min(fr[col][0] for fr in frs)
        hi = max(fr[col][1] for fr in frs)
        span = max(hi - lo, 1)
        narrow = sum((fr[col][1] - fr[col][0]) <= 0.75 * span
                     for fr in frs)
        assert narrow >= n_files // 2, (col, narrow)


def test_zorder_read_side_prunes_and_loses_nothing(spark, sf_dir, tmp_path):
    """B51 read-side (VERDICT r6 #6): prune_files keeps a strict
    fraction of a z-ordered lineitem copy under a conjunctive box,
    read_pruned returns EXACTLY the rows a full filtered scan does,
    and the registered zorder_pruned_scan query returns that same
    row multiset."""
    from pyspark.sql import functions as F
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.plans.analytics3 import (
        zorder_pruned_scan)
    from gcp_data_engineering_workshop_spark.sources.layout import (
        prune_files, read_pruned, write_zordered)

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    path = str(tmp_path / "z")
    write_zordered(li, path, "l_partkey", "l_suppkey", n_files=16)
    r = li.agg(F.min("l_partkey"), F.max("l_partkey"),
               F.min("l_suppkey"), F.max("l_suppkey")).collect()[0]
    box = {}
    for c, lo, hi in (("l_partkey", int(r[0]), int(r[1])),
                      ("l_suppkey", int(r[2]), int(r[3]))):
        span = hi - lo
        box[c] = (lo + span * 2 // 5, lo + span * 3 // 5)
    kept, total = prune_files(path, box)
    assert total == 16
    # middle ~20% box on each dim: the curve confines it to a
    # minority of files (file-level IO avoided before any data
    # read). repartitionByRange boundaries are SAMPLED (standard
    # Spark; Delta's OPTIMIZE ZORDER is equally nondeterministic),
    # so the kept count wobbles by a file or two run to run — the
    # bound leaves headroom for that; at real file counts the kept
    # fraction approaches the box area (see PLANS.md)
    assert 0 < len(kept) <= total * 5 // 8, (len(kept), total)
    pred = (F.col("l_partkey").between(*box["l_partkey"])
            & F.col("l_suppkey").between(*box["l_suppkey"]))
    want = sorted(tuple(x) for x in li.where(pred).collect())
    got = sorted(tuple(x) for x in read_pruned(spark, path, box)
                 .select(*li.columns).collect())
    assert got == want and len(got) > 0
    # the registered query agrees with the direct filtered scan
    q = sorted((x.l_orderkey, x.l_linenumber, x.l_partkey, x.l_suppkey)
               for x in zorder_pruned_scan(spark, sf_dir).collect())
    assert q == want


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """E20: compaction collapses a 16-file table to the footer-sized
    target count, preserves the exact row multiset, and with sort
    columns the output files stay range-disjoint (footer pruning
    still works)."""
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.sources.layout import (
        compact_parquet, file_ranges)

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_partkey")
    src = str(tmp_path / "small")
    li.repartition(16).write.parquet(src)
    out = str(tmp_path / "compact")
    n = compact_parquet(spark, src, out, target_bytes=1 << 40,
                        sort_cols=["l_partkey"])
    assert n == 1
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in li.collect())
    assert got == want
    out2 = str(tmp_path / "compact4")
    total = sum(f.stat().st_size for f in (tmp_path / "small").iterdir()
                if f.name.endswith(".parquet"))
    n2 = compact_parquet(spark, src, out2, target_bytes=total // 4 + 1,
                         sort_cols=["l_partkey"])
    assert 1 < n2 <= 6
    ranges = file_ranges(out2, ["l_partkey"])
    spans = sorted((r["l_partkey"][0], r["l_partkey"][1]) for r in ranges)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2 or lo2 >= lo1  # ordered, overlap at most at edges
    got2 = sorted(tuple(r) for r in spark.read.parquet(out2).collect())
    assert got2 == want


# ---------------------------------------------------------------- #
# E21: avrolite — Avro object-container source/sink (pure-Python
# format layer from the public Avro 1.11 spec; no spark-avro jar in
# this container)
# ---------------------------------------------------------------- #


def _avro_register(spark):
    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        register_avrolite)
    register_avrolite(spark)


def test_avrolite_roundtrip(spark, sf_dir, tmp_path):
    """Distributed write (one container file per task) then read:
    row-for-row parity including nulls, on mixed primitive types."""
    _avro_register(spark)
    d = str(tmp_path / "avro")
    src = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .select("doc_id", "lang", "n_chars",
                   (F.col("doc_id") % 7 == 0).alias("flag"),
                   F.when(F.col("doc_id") % 5 == 0, None)
                    .otherwise(F.col("source")).alias("source")))
    src.write.format("avrolite").option("path", d).mode("append").save()
    back = spark.read.format("avrolite").option("path", d).load()
    assert back.schema.simpleString() == src.schema.simpleString()
    a = sorted(tuple(r) for r in back.collect())
    b = sorted(tuple(r) for r in src.collect())
    assert a == b


def test_avrolite_deflate_and_block_split(spark, sf_dir, tmp_path):
    """deflate codec roundtrips, and a small partition_bytes forces
    the reader to split ONE file into MANY partitions on block
    boundaries — the sync-marker splittability that makes the format
    cluster-scannable — with no row lost or duplicated."""
    _avro_register(spark)
    d = str(tmp_path / "avrodef")
    src = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .select("doc_id", "text").coalesce(1))
    (src.write.format("avrolite").option("path", d)
        .option("codec", "deflate").option("records_per_block", "16")
        .mode("append").save())
    back = (spark.read.format("avrolite").option("path", d)
            .option("partition_bytes", str(1 << 12)).load())
    assert back.rdd.getNumPartitions() > 4
    assert sorted(tuple(r) for r in back.collect()) == \
        sorted(tuple(r) for r in src.collect())


def test_avrolite_overwrite_mode(spark, tmp_path):
    _avro_register(spark)
    d = str(tmp_path / "avroow")
    df1 = spark.range(100).select(F.col("id"),
                                  F.lit("a").alias("tag"))
    df2 = spark.range(7).select(F.col("id"), F.lit("b").alias("tag"))
    df1.write.format("avrolite").option("path", d).mode("append").save()
    df2.write.format("avrolite").option("path", d).mode("overwrite").save()
    back = spark.read.format("avrolite").option("path", d).load()
    assert back.count() == 7
    assert {r.tag for r in back.collect()} == {"b"}


def test_avrolite_stream_tails_directory(spark, tmp_path):
    """E21 streaming twin: two separate writes land as two sets of
    container files; a readStream over the directory picks up BOTH
    (initial catch-up batch + the file appended mid-stream), each
    row exactly once."""
    import time

    _avro_register(spark)
    d = str(tmp_path / "avrostream")
    df1 = spark.range(50).select(F.col("id"), F.lit("x").alias("tag"))
    df1.coalesce(1).write.format("avrolite").option("path", d) \
        .mode("append").save()
    stream = spark.readStream.format("avrolite").option("path", d).load()
    q = (stream.writeStream.format("memory")
         .queryName("avro_tail").outputMode("append").start())
    try:
        q.processAllAvailable()
        assert spark.table("avro_tail").count() == 50
        time.sleep(0.05)  # distinct mtime for the appended file
        df2 = spark.range(100, 107).select(
            F.col("id"), F.lit("y").alias("tag"))
        df2.coalesce(1).write.format("avrolite").option("path", d) \
            .mode("append").save()
        q.processAllAvailable()
        rows = spark.table("avro_tail").collect()
    finally:
        q.stop()
    ids = [r.id for r in rows]
    assert len(ids) == len(set(ids)) == 57
    assert {r.tag for r in rows} == {"x", "y"}


def test_avrolite_filter_pushdown_prunes_blocks(spark, tmp_path):
    """E21 zone maps: per-block min/max sidecars + pushFilters prune
    blocks BEFORE IO. A sorted id column gives disjoint block
    ranges; a range predicate must (a) return exactly the right
    rows through the real Spark plan with python filter pushdown
    enabled, and (b) shrink the reader's planned block set."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        AvroLiteReader)

    _avro_register(spark)
    d = str(tmp_path / "avrostats")
    (spark.range(1000).orderBy("id").coalesce(1)
     .write.format("avrolite").option("path", d)
     .option("records_per_block", "100").mode("append").save())

    # (b) planner-level: pushed range keeps only matching blocks
    full = AvroLiteReader({"path": d})
    n_all = sum(len(p.value[1]) for p in full.partitions())
    pruned = AvroLiteReader({"path": d})
    assert list(pruned.pushFilters(
        [GreaterThanOrEqual(("id",), 900)])) != []
    n_kept = sum(len(p.value[1]) for p in pruned.partitions())
    assert n_all == 10 and n_kept == 1, (n_all, n_kept)

    # (a) end-to-end exactness with the pushdown conf ON
    _prev_pd = spark.conf.get(
        "spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (spark.read.format("avrolite").option("path", d).load()
               .where("id >= 900 and id < 950").collect())
        assert sorted(r.id for r in got) == list(range(900, 950))
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       _prev_pd)


def test_avrolite_format_read_prunes_blocks(spark, tmp_path):
    """Zone-map pruning happens through format("avrolite") itself,
    not only on a hand-built reader: Spark calls reader() in a
    planner worker with no active session, so the source must not
    gate pushdown on a session-conf probe. With one partition per
    block (partition_bytes=1), a predicate that only the last of 10
    blocks can match plans ONE partition, with the same rows an
    unpushable predicate returns over all 10."""
    _avro_register(spark)
    d = str(tmp_path / "avroplan")
    (spark.range(1000).orderBy("id").coalesce(1)
     .write.format("avrolite").option("path", d)
     .option("records_per_block", "100").mode("append").save())
    _prev_pd = spark.conf.get(
        "spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        src = (spark.read.format("avrolite").option("path", d)
               .option("partition_bytes", "1").load())
        assert src.rdd.getNumPartitions() == 10
        pruned = src.where("id >= 900")
        # Catalyst folds `id + 0` back to `id`; `%` it cannot
        unpushed = src.where("id % 1000 >= 900")
        assert pruned.rdd.getNumPartitions() == 1
        assert unpushed.rdd.getNumPartitions() == 10
        rows = sorted(r.id for r in pruned.collect())
        assert rows == sorted(r.id for r in unpushed.collect())
        assert rows == list(range(900, 1000))
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       _prev_pd)


def test_avrolite_pruning_is_conservative_on_nulls(spark, tmp_path):
    """An all-null block for the filtered field is provably
    unmatchable by a range predicate and may be pruned; rows with
    values stay exact."""
    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        AvroLiteReader)
    from pyspark.sql.datasource import EqualTo

    _avro_register(spark)
    d = str(tmp_path / "avronull")
    df = spark.range(200).select(
        F.when(F.col("id") < 100, None).otherwise(F.col("id"))
        .alias("v"), F.col("id"))
    (df.orderBy("id").coalesce(1).write.format("avrolite")
     .option("path", d).option("records_per_block", "100")
     .mode("append").save())
    r = AvroLiteReader({"path": d})
    r.pushFilters([EqualTo(("v",), 150)])
    kept = sum(len(p.value[1]) for p in r.partitions())
    assert kept == 1  # the all-null block is gone
    _prev_pd = spark.conf.get(
        "spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (spark.read.format("avrolite").option("path", d).load()
               .where("v = 150").collect())
        assert [rr.id for rr in got] == [150]
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       _prev_pd)


def test_avrolite_zone_maps_never_prune_nan_blocks(spark, tmp_path):
    """ADVICE r8: Spark orders NaN above every number and NaN = NaN
    is true, so a block containing NaN may match ANY range predicate
    — the writer must not record a min/max that lets `v > x` prune
    NaN rows away. Block 0 holds small values + one NaN; the
    predicate's numeric range only matches block 1."""
    import math

    from pyspark.sql.datasource import GreaterThan

    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        AvroLiteReader)

    _avro_register(spark)
    d = str(tmp_path / "avronan")
    df = spark.range(200).select(
        F.col("id"),
        F.when(F.col("id") == 50, float("nan"))
        .otherwise(F.col("id").cast("double") / 1000.0).alias("v"))
    (df.orderBy("id").coalesce(1).write.format("avrolite")
     .option("path", d).option("records_per_block", "100")
     .mode("append").save())
    # planner level: the NaN block survives the pushed range filter
    r = AvroLiteReader({"path": d})
    r.pushFilters([GreaterThan(("v",), 0.11)])
    kept = sum(len(p.value[1]) for p in r.partitions())
    assert kept == 2  # both blocks: block 1 by range, block 0 by NaN
    # end-to-end: the NaN row is in the result (NaN > 0.11 in Spark)
    _prev_pd = spark.conf.get(
        "spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (spark.read.format("avrolite").option("path", d).load()
               .where("v > 0.11").collect())
        ids = sorted(rr.id for rr in got)
        assert 50 in ids and ids == [50] + list(range(111, 200))
        assert any(math.isnan(rr.v) for rr in got)
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       _prev_pd)


def test_avrolite_string_zone_maps_prune_blocks(spark, tmp_path):
    """Carried r8 task #7 / VERDICT r9 Missing #3: string fields get
    zone maps too — a string-range predicate (the most common
    warehouse filter; dates ride as ISO-8601 strings here) prunes
    blocks exactly like a numeric one, and the pruned plan stays
    row-exact end-to-end."""
    from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual,
                                        LessThan)

    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        AvroLiteReader)

    _avro_register(spark)
    d = str(tmp_path / "avrostr")
    # 400 rows sorted by an ISO-date string -> 4 range-disjoint blocks
    df = spark.range(400).select(
        F.col("id"),
        F.date_format(F.date_add(F.lit("2024-01-01"),
                                 F.col("id").cast("int")), "yyyy-MM-dd")
        .alias("day"))
    (df.orderBy("day").coalesce(1).write.format("avrolite")
     .option("path", d).option("records_per_block", "100")
     .mode("append").save())
    n_all = sum(len(p.value[1])
                for p in AvroLiteReader({"path": d}).partitions())
    assert n_all == 4
    # equality on a single date hits exactly one block
    r = AvroLiteReader({"path": d})
    r.pushFilters([EqualTo(("day",), "2024-06-15")])
    assert sum(len(p.value[1]) for p in r.partitions()) == 1
    # a range straddling one block boundary keeps two
    r2 = AvroLiteReader({"path": d})
    r2.pushFilters([GreaterThanOrEqual(("day",), "2024-04-01"),
                    LessThan(("day",), "2024-04-20")])
    assert sum(len(p.value[1]) for p in r2.partitions()) == 2
    # end-to-end exactness through the real plan
    _prev_pd = spark.conf.get(
        "spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (spark.read.format("avrolite").option("path", d).load()
               .where("day >= '2024-06-01' and day < '2024-06-04'")
               .collect())
        assert sorted(r.day for r in got) == [
            "2024-06-01", "2024-06-02", "2024-06-03"]
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       _prev_pd)


def test_avrolite_string_zone_maps_conservative_on_nulls_and_types(
        spark, tmp_path):
    """All-null string blocks prune (provably unmatchable by a range
    predicate); a cross-type pushed literal (numeric against a
    string stat) must never prune — comparison is unreasonable, so
    the block survives."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        AvroLiteReader)

    _avro_register(spark)
    d = str(tmp_path / "avrostrnull")
    df = spark.range(200).select(
        F.col("id"),
        F.when(F.col("id") < 100, None)
        .otherwise(F.concat(F.lit("k"), F.format_string("%03d", "id")))
        .alias("name"))
    (df.orderBy("id").coalesce(1).write.format("avrolite")
     .option("path", d).option("records_per_block", "100")
     .mode("append").save())
    r = AvroLiteReader({"path": d})
    r.pushFilters([EqualTo(("name",), "k150")])
    assert sum(len(p.value[1]) for p in r.partitions()) == 1
    # cross-type literal: keep every value-bearing block
    r2 = AvroLiteReader({"path": d})
    r2.pushFilters([GreaterThan(("name",), 42)])
    assert sum(len(p.value[1]) for p in r2.partitions()) == 1
    _prev_pd = spark.conf.get(
        "spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (spark.read.format("avrolite").option("path", d).load()
               .where("name = 'k150'").collect())
        assert [rr.id for rr in got] == [150]
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       _prev_pd)


def test_avrolite_parallel_stream_reader_default_and_parity(
        spark, tmp_path):
    """E21's stream reader is EXECUTOR-PARALLEL (the D27 design
    applied to the landing-zone tail): the driver plans block
    groups, executors decode them. Parity: the directory drained
    through the stream yields exactly the rows a batch read of the
    same directory returns; the planner splits a small
    partition_bytes target into multiple tasks."""
    import time as _t

    from gcp_data_engineering_workshop_spark.sources.avrolite import (
        AvroLiteParallelStreamReader)

    _avro_register(spark)
    d = str(tmp_path / "avropar")
    (spark.range(500).select(F.col("id"), F.lit("x").alias("tag"))
     .coalesce(1).write.format("avrolite").option("path", d)
     .option("records_per_block", "50").mode("append").save())
    _t.sleep(0.05)
    (spark.range(500, 600).select(F.col("id"),
                                  F.lit("y").alias("tag"))
     .coalesce(1).write.format("avrolite").option("path", d)
     .option("records_per_block", "50").mode("append").save())

    q = (spark.readStream.format("avrolite").option("path", d).load()
         .writeStream.format("memory")
         .queryName("avro_par").outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    par = sorted(tuple(r) for r in spark.table("avro_par").collect())
    batch = sorted(tuple(r) for r in spark.read.format("avrolite")
                   .option("path", d).load().collect())
    assert par == batch
    assert len(par) == 600
    # planner: tiny pack target -> multiple block-group partitions
    r = AvroLiteParallelStreamReader({"path": d,
                                      "partition_bytes": "1024"})
    parts = r.partitions({"n": 0}, {"n": 2})
    assert len(parts) > 2
    # replanning the same window is byte-identical (restart contract)
    parts2 = r.partitions({"n": 0}, {"n": 2})
    assert [p.value for p in parts] == [p.value for p in parts2]
