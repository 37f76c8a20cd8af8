"""Tests for TableIO idioms (S6-S12) and the watermark ledger
framework (staleness selection, circuit breaker, anti-join
discovery)."""

from __future__ import annotations

import sys
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from fin_trade_craft_spark.plans.watermarks import WatermarkLedger, discover_unprocessed  # noqa: E402
from fin_trade_craft_spark.sources.io import TableIO  # noqa: E402


@pytest.fixture()
def io(spark, tmp_path):
    return TableIO(spark, str(tmp_path / "warehouse"))


def test_append_and_overwrite(spark, io):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    io.overwrite(df, "raw/t1")
    io.append(spark.createDataFrame([(3, "c")], "k int, v string"), "raw/t1")
    assert io.read("raw/t1").count() == 3
    io.overwrite(df, "raw/t1")
    assert io.read("raw/t1").count() == 2


def test_upsert_keeps_nonconflicting_and_replaces_conflicting(spark, io):
    io.overwrite(spark.createDataFrame([(1, "old"), (2, "old")], "k int, v string"), "t/u")
    io.upsert(spark.createDataFrame([(2, "new"), (3, "new")], "k int, v string"), "t/u", ["k"])
    got = {r.k: r.v for r in io.read("t/u").collect()}
    assert got == {1: "old", 2: "new", 3: "new"}


def test_partition_scoped_upsert_leaves_other_partitions_untouched(spark, io, tmp_path):
    """With partition_by, upsert must merge/rewrite ONLY the
    partitions present in the incoming batch: untouched partition
    files stay byte-identical (never read, never rewritten), and no
    temp directory is left behind."""
    base = spark.createDataFrame(
        [(1, 10, "old"), (1, 11, "old"), (2, 20, "old"), (3, 30, "old")],
        "sym int, d int, v string",
    )
    io.overwrite(base, "t/pu", partition_by=["sym"])
    tdir = Path(io.path("t/pu"))
    untouched = {
        p: (p.stat().st_mtime_ns, p.read_bytes())
        for p in tdir.rglob("*.parquet")
        if "sym=1" not in str(p)
    }
    assert untouched

    batch = spark.createDataFrame([(1, 11, "new"), (1, 12, "new")], "sym int, d int, v string")
    io.upsert(batch, "t/pu", keys=["sym", "d"], partition_by=["sym"])

    got = sorted((r.sym, r.d, r.v) for r in io.read("t/pu").collect())
    assert got == [(1, 10, "old"), (1, 11, "new"), (1, 12, "new"), (2, 20, "old"), (3, 30, "old")]
    for p, (mtime, blob) in untouched.items():
        assert p.exists() and p.stat().st_mtime_ns == mtime and p.read_bytes() == blob
    assert not list(tdir.parent.glob("*__rewrite_tmp_*")) and not list(
        tdir.parent.glob("*__tmp")
    )


def test_unpartitioned_upsert_cleans_tmp(spark, io):
    io.overwrite(spark.createDataFrame([(1, "old")], "k int, v string"), "t/u2")
    io.upsert(spark.createDataFrame([(1, "new"), (2, "new")], "k int, v string"), "t/u2", ["k"])
    assert {r.k: r.v for r in io.read("t/u2").collect()} == {1: "new", 2: "new"}
    assert not list(Path(io.path("t/u2")).parent.glob("*__rewrite_tmp_*"))


def test_replace_where_touches_only_matching_partitions(spark, io):
    df = spark.createDataFrame([(1, 10, "x"), (1, 11, "x"), (2, 20, "x")], "sym int, d int, v string")
    io.overwrite(df, "t/p", partition_by=["sym"])
    repl = spark.createDataFrame([(1, 99, "y")], "sym int, d int, v string")
    conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf)
    io.replace_where(repl, "t/p", partition_by=["sym"])
    got = sorted((r.sym, r.d, r.v) for r in io.read("t/p").collect())
    # sym=1 fully replaced, sym=2 untouched
    assert got == [(1, 99, "y"), (2, 20, "x")]
    # the dynamic mode is a writer option: the session conf is unchanged
    assert spark.conf.get(conf) == before


def test_warehouse_summary_report(spark, io):
    """S13 breadth: the stacked per-table summary over a TableIO
    warehouse — rows/distinct entities/date ranges, NULLs where a
    table lacks the concept (A8 unionByName allowMissingColumns)."""
    from datetime import date

    from fin_trade_craft_spark.queries.reporting import warehouse_summary

    io.overwrite(spark.createDataFrame([(1, date(2024, 1, 1)), (1, date(2024, 1, 2)), (2, date(2024, 1, 2))], "sym long, d date"), "raw/prices")
    io.overwrite(spark.createDataFrame([(1,), (2,), (3,)], "sym long"), "raw/overview")
    io.overwrite(spark.createDataFrame([(date(2024, 2, 1), 1.0)], "d date, v double"), "raw/macro")
    io.overwrite(spark.createDataFrame([("x",)], "v string"), "raw/misc")
    io.overwrite(spark.createDataFrame([(9, date(2023, 5, 5))], "sym long, d date"), "raw/insider")

    rows = {
        r.table_name: r
        for r in warehouse_summary(
            io,
            [
                ("raw/prices", "sym", "d"),
                ("raw/overview", "sym", None),
                ("raw/macro", None, "d"),
                ("raw/misc", None, None),
                ("raw/insider", "sym", "d"),
            ],
        ).collect()
    }
    assert len(rows) == 5
    p = rows["raw/prices"]
    assert (p.record_count, p.unique_entities, p.unique_dates) == (3, 2, 2)
    assert (p.earliest_date, p.latest_date) == (date(2024, 1, 1), date(2024, 1, 2))
    o = rows["raw/overview"]
    assert (o.record_count, o.unique_entities) == (3, 3)
    assert o.earliest_date is None and o.unique_dates is None
    m = rows["raw/macro"]
    assert m.unique_entities is None and m.unique_dates == 1
    assert rows["raw/misc"].unique_entities is None and rows["raw/misc"].earliest_date is None


def test_ledger_staleness_and_breaker(spark, io):
    led = WatermarkLedger(io)
    syms = spark.createDataFrame([(i,) for i in range(1, 6)], "symbol_id long")
    led.ensure_rows(syms, "prices")
    now = datetime(2024, 6, 1, tzinfo=timezone.utc)

    # never-run symbols are all selected, ordered symbol_id
    work = led.select_work("prices", 48, now=now).collect()
    assert [r.symbol_id for r in work] == [1, 2, 3, 4, 5]

    # commit success for 1-3 with date ranges
    ranges = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2024, 5, 30))], "symbol_id long, first_date timestamp, last_date timestamp"
    )
    led.commit_success("prices", ranges, now=now)
    work = led.select_work("prices", 48, now=now).collect()
    assert 1 not in [r.symbol_id for r in work]
    # after staleness window passes, symbol 1 is selected again (stalest-last since others are never-run)
    later = now + timedelta(hours=72)
    work = [r.symbol_id for r in led.select_work("prices", 48, now=later).collect()]
    assert work[-1] == 1 and set(work) == {1, 2, 3, 4, 5}

    # circuit breaker: 3 failures -> ineligible
    for _ in range(3):
        led.commit_failure("prices", [2])
    work = [r.symbol_id for r in led.select_work("prices", 48, now=later).collect()]
    assert 2 not in work
    row = led.read().filter("symbol_id = 2").collect()[0]
    assert row.consecutive_failures == 3 and row.eligible == "no"


def test_discover_unprocessed_anti_join(spark):
    raw = spark.createDataFrame([(1, 10), (1, 11), (2, 10)], "sym int, d int")
    done = spark.createDataFrame([(1, 10)], "sym int, d int")
    got = sorted((r.sym, r.d) for r in discover_unprocessed(raw, done, ["sym", "d"]).collect())
    assert got == [(1, 11), (2, 10)]


def test_add_columns_full_recompute(spark, tmp_path):
    """S10: widening = whole-column recompute, idempotent, may
    reference existing columns."""
    from pyspark.sql import functions as F

    from fin_trade_craft_spark.sources.io import TableIO

    io = TableIO(spark, str(tmp_path))
    io.overwrite(spark.createDataFrame([(1, 10.0), (2, 30.0)], "k int, v double"), "t")
    io.add_columns("t", {"v2": F.col("v") * 2, "flag": F.col("v") > 20})
    got = sorted(map(tuple, io.read("t").collect()))
    assert got == [(1, 10.0, 20.0, False), (2, 30.0, 60.0, True)]
    # idempotent: rerunning produces the same result, not duplicates
    io.add_columns("t", {"v2": F.col("v") * 2, "flag": F.col("v") > 20})
    assert sorted(map(tuple, io.read("t").collect())) == got


def test_exists_empty_directory_is_no_table(spark, tmp_path):
    """An EMPTY table directory (crash after mkdir, before any part
    file) is a recoverable absent-table state: exists() must return
    False so upsert/append can proceed, instead of wedging on
    UNABLE_TO_INFER_SCHEMA."""
    import pathlib

    from fin_trade_craft_spark.sources.io import TableIO

    io = TableIO(spark, str(tmp_path))
    pathlib.Path(io.path("t")).mkdir(parents=True)
    assert io.exists("t") is False
    # and the table is usable from that state
    io.upsert(spark.createDataFrame([(1, 2.0)], "k int, v double"), "t", keys=["k"])
    assert io.exists("t") is True
    assert [tuple(r) for r in io.read("t").collect()] == [(1, 2.0)]


def test_compact_small_files(spark, tmp_path):
    from fin_trade_craft_spark.sources.io import TableIO

    io = TableIO(spark, str(tmp_path))
    base = spark.range(0, 1000).selectExpr("id AS k", "id * 2.5 AS v")
    # simulate incremental appends: many tiny files
    for i in range(5):
        io.append(base.filter(f"k % 5 = {i}").repartition(8), "t")
    import pathlib

    n_before = len(list(pathlib.Path(io.path("t")).rglob("*.parquet")))
    assert n_before >= 20
    reported = io.compact("t", target_partitions=2)
    assert reported == n_before
    n_after = len(list(pathlib.Path(io.path("t")).rglob("*.parquet")))
    assert n_after <= 2
    assert io.read("t").count() == 1000
    assert io.read("t").agg({"v": "sum"}).first()[0] == sum(i * 2.5 for i in range(1000))


def test_options_schema_registry_roundtrip(spark, io):
    """S11 registry for the reference's schema-only options tables
    (postgres_stock_db_schema.sql:272-352): typed StructType, natural
    keys driving upsert, and validation rejecting drifted frames."""
    from datetime import date
    from decimal import Decimal

    from fin_trade_craft_spark.sources import schemas as SC

    table = "raw/historical_options"
    sch = SC.SCHEMAS[table]
    assert [f.name for f in sch.fields][:8] == [
        "symbol_id", "symbol", "contract_name", "option_type",
        "strike", "expiration", "last_trade_date", "last_price",
    ]
    row = {f.name: None for f in sch.fields}
    row.update(
        symbol_id=1, symbol="AAA", contract_name="AAA240621C100",
        option_type="call", strike=Decimal("100.0000"),
        expiration=date(2024, 6, 21), last_trade_date=date(2024, 6, 1),
        last_price=Decimal("5.2500"), volume=10,
    )
    df = spark.createDataFrame([tuple(row[f.name] for f in sch.fields)], sch)
    SC.validate(df, table)
    io.overwrite(df, table)

    # upsert on the natural key replaces, not duplicates
    row2 = dict(row, last_price=Decimal("6.0000"), volume=25)
    df2 = spark.createDataFrame([tuple(row2[f.name] for f in sch.fields)], sch)
    io.upsert(df2, table, SC.NATURAL_KEYS[table])
    got = io.read(table).collect()
    assert len(got) == 1 and got[0].last_price == Decimal("6.0000") and got[0].volume == 25

    # drifted frame (missing greeks, wrong strike type) is rejected
    import pytest as _pytest

    bad = df.drop("delta").withColumn("strike", df.strike.cast("double"))
    with _pytest.raises(ValueError, match="schema mismatch"):
        SC.validate(bad, table)


def test_time_travel_retain_read_restore_vacuum(spark, tmp_path):
    """Versioned TableIO: every full-rewrite commit retains the
    pre-image; read_version time-travels; restore is itself a
    versioned commit (undoable); vacuum prunes; retain_history=0
    keeps the legacy no-history behavior."""
    import os

    from pyspark.sql import functions as F

    from fin_trade_craft_spark.sources.io import TableIO

    io = TableIO(spark, str(tmp_path), retain_history=2)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    io.overwrite(v1, "t")                      # fresh create: no pre-image
    assert io.history("t") == []
    io.overwrite(v1.withColumn("s", F.upper("s")), "t")   # retains v1
    io.add_columns("t", {"flag": F.col("k") > 1})         # retains v2
    assert io.history("t") == [1, 2]
    assert sorted(r.s for r in io.read_version("t", 1).collect()) == ["a", "b"]
    assert sorted(r.s for r in io.read_version("t", 2).collect()) == ["A", "B"]
    assert "flag" in io.read("t").columns

    io.restore("t", 1)                         # retains v3 (the flag table)
    assert sorted(r.s for r in io.read("t").collect()) == ["a", "b"]
    # retention=2: v1 pruned when v3 arrived, survivors keep their ids
    assert io.history("t") == [2, 3]
    assert "flag" in io.read_version("t", 3).columns       # restore is undoable

    try:
        io.read_version("t", 1)
        raise AssertionError("pruned version must not be readable")
    except FileNotFoundError:
        pass

    assert io.vacuum("t", keep_last=1) == 1
    assert io.history("t") == [3]
    assert io.vacuum("t") == 1
    assert io.history("t") == []
    assert not os.path.exists(io._hist_dir("t"))
    assert sorted(r.s for r in io.read("t").collect()) == ["a", "b"]  # live untouched

    legacy = TableIO(spark, str(tmp_path / "w2"))
    legacy.overwrite(v1, "t")
    legacy.overwrite(v1, "t")
    legacy.add_columns("t", {"z": F.lit(1)})
    assert legacy.history("t") == []
    assert not os.path.exists(legacy._hist_dir("t"))


def test_write_audit_publish(spark, tmp_path):
    """WAP: a failing audit must abort with the live table untouched
    and the stage cleaned up; a passing audit publishes atomically;
    with retain_history the replaced image is still retained."""
    import os

    from pyspark.sql import functions as F

    from fin_trade_craft_spark.sources.io import TableIO

    io = TableIO(spark, str(tmp_path), retain_history=1)
    good = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    checks = [
        ("no_null_keys", lambda d: d.filter(F.col("k").isNull()).count() == 0),
        ("positive_values", lambda d: d.filter(F.col("v") <= 0).count() == 0),
    ]
    res = io.publish_audited(good, "t", checks)
    assert res == [("no_null_keys", True), ("positive_values", True)]
    assert sorted(r.k for r in io.read("t").collect()) == [1, 2]

    bad = spark.createDataFrame([(3, -5.0)], "k long, v double")
    try:
        io.publish_audited(bad, "t", checks)
        raise AssertionError("failing audit must raise")
    except ValueError as e:
        assert "positive_values" in str(e)
    # live table untouched, no stray staging dirs
    assert sorted(r.k for r in io.read("t").collect()) == [1, 2]
    strays = [d for d in os.listdir(tmp_path) if "__rewrite_tmp" in d or "__swap_tmp" in d]
    assert strays == []

    better = spark.createDataFrame([(5, 50.0)], "k long, v double")
    io.publish_audited(better, "t", checks)
    assert [r.k for r in io.read("t").collect()] == [5]
    # the v1 pre-image (the good table) was retained through WAP commit
    assert io.history("t") == [1]
    assert sorted(r.k for r in io.read_version("t", 1).collect()) == [1, 2]


def test_version_ids_survive_vacuum(spark, tmp_path):
    """Version ids are a monotone commit counter even across a
    vacuum that empties the history: a stale 'version 1' reference
    must fail loudly, never silently resolve to a NEWER image."""
    from pyspark.sql import functions as F

    from fin_trade_craft_spark.sources.io import TableIO

    io = TableIO(spark, str(tmp_path), retain_history=3)
    v = spark.createDataFrame([(1, "a")], "k long, s string")
    io.overwrite(v, "t")
    io.overwrite(v.withColumn("s", F.upper("s")), "t")   # retains v1
    assert io.history("t") == [1]
    assert io.vacuum("t") == 1
    assert io.history("t") == []
    io.overwrite(v, "t")                                  # retains v2 (not v1!)
    assert io.history("t") == [2]
    try:
        io.read_version("t", 1)
        raise AssertionError("vacuumed version must not resolve")
    except FileNotFoundError:
        pass
    assert [r.s for r in io.read_version("t", 2).collect()] == ["A"]
