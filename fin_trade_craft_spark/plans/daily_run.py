"""Orchestrated daily market run — entry point A of the reference
(``transforms/run_daily_transform.py:57-82`` group semantics wired to
``transforms/transformation_watermark_manager.py:198-270`` work
discovery): incremental discovery → indicator engine → signals →
screener → chart input, in ONE SparkSession with the watermark
ledger active.

The per-query registry proves each stage's values in isolation; this
module is the PIPELINE record — the reference user's actual daily
invocation (`python -m fin_trade_craft_spark.cli --daily-market
<sf_dir>`), producing a per-stage wall-clock breakdown and the
``rebuild_signals_from_scratch.py --check-only`` consistency report.

Incremental semantics (the reference's, re-expressed):

- The feed is resampled to daily bars and refreshed into
  ``raw/time_series_daily_adjusted`` (the reference's extractors own
  raw.*; here the tick→bar resample stands in for the fetch).
- The ledger selects WORK at symbol grain: eligible, under the
  3-strikes failure cap, never-run or staler than
  ``staleness_hours`` (`:198-270`). A fresh ledger selects
  everything (the initial build); a warm ledger selects nothing (the
  daily no-op) or exactly the stale subset.
- Indicators need full per-symbol history (every window/EWM runs
  over the whole series, like the reference's per-symbol loops), so
  work symbols recompute their entire series and UPSERT by
  (symbol_id, date); untouched symbols' rows are carried by the
  upsert's key-join — ∝ work, not ∝ market.
- Signals upsert by (symbol_id, date, trade_strategy).
- Screener + chart input are market-wide ranks (they must see every
  symbol, stale or not — a percentile rank over a subset is wrong),
  so they always recompute, reading the sf_dir tables their oracles
  read; outputs land in the warehouse like any transform.

At 100 TB: the ledger is one row per symbol×group (broadcast
always); the upserts shuffle only the work symbols' recomputed rows;
the screener's rank pipeline is the two-phase distributed total
order proven in `queries/reporting.py`.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import TableIO
from .watermarks import WatermarkLedger, discover_unprocessed

RAW_BARS = "raw/time_series_daily_adjusted"
T_FEATURES = "transforms/time_series_daily_adjusted"
T_SIGNALS = "transforms/trading_signals"
T_SCREENER = "transforms/daily_screener"
T_CHART = "transforms/top25_chart_input"
GROUP = "market"


@dataclass
class StageRecord:
    name: str
    wall_sec: float
    rows: int
    note: str = ""


@dataclass
class DailyRunReport:
    stages: list[StageRecord] = field(default_factory=list)
    work_symbols: int = 0
    new_bar_rows: int = 0
    total_wall_sec: float = 0.0
    consistency: list = field(default_factory=list)

    def lines(self) -> list[str]:
        out = [
            f"work_symbols={self.work_symbols} new_bar_rows={self.new_bar_rows}"
        ]
        for s in self.stages:
            note = f" ({s.note})" if s.note else ""
            out.append(f"  {s.name:<12} {s.wall_sec:7.2f}s rows={s.rows}{note}")
        out.append(f"  {'TOTAL':<12} {self.total_wall_sec:7.2f}s")
        for r in self.consistency:
            out.append(
                f"  check {r.table_name}: rows={r.n_rows} symbols={r.n_symbols}"
                f" dates=[{r.min_date} .. {r.max_date}]"
            )
        return out


def _staged(report: DailyRunReport, name: str):
    class _Ctx:
        def __enter__(self):
            self.t0 = time.time()
            return self

        def done(self, rows: int, note: str = ""):
            self.rows, self.note = rows, note

        def __exit__(self, *exc):
            report.stages.append(
                StageRecord(
                    name,
                    round(time.time() - self.t0, 3),
                    getattr(self, "rows", 0),
                    getattr(self, "note", ""),
                )
            )
            return False

    return _Ctx()


def run_daily_market(
    spark: SparkSession,
    sf_dir: str,
    io: TableIO,
    staleness_hours: float = 168.0,
    now: datetime | None = None,
) -> DailyRunReport:
    """One daily run. Returns the stage breakdown + consistency
    report; see module docstring for the incremental contract."""
    from ..domain.indicators import compute_indicators
    from ..domain.trading_signals import all_signals
    from ..queries.fin_domain import market_bars
    from ..queries.reporting import daily_screener, top25_chart_input
    from .pipeline import consistency_check

    rep = DailyRunReport()
    t_start = time.time()
    ledger = WatermarkLedger(io)

    # ---- stage 1: ingest (feed → raw bars; the extract stand-in) ----
    with _staged(rep, "ingest") as st:
        bars = market_bars(spark, sf_dir)
        io.overwrite(bars, RAW_BARS)
        raw = io.read(RAW_BARS)
        st.done(raw.count())

    # ---- stage 2: discovery (ledger: eligible, stale, under cap) ----
    with _staged(rep, "discovery") as st:
        ledger.ensure_rows(raw.select("symbol_id"), GROUP)
        work = ledger.select_work(GROUP, staleness_hours=staleness_hours, now=now)
        # the ledger is one row per symbol×group — a driver-side
        # count here is bounded by the symbol universe, not the data
        work_ids = work.select("symbol_id")
        rep.work_symbols = work_ids.count()
        bars_work = raw.join(F.broadcast(work_ids), "symbol_id", "semi")
        done = (
            io.read(T_FEATURES).select("symbol_id", "date")
            if io.exists(T_FEATURES)
            else raw.select("symbol_id", "date").limit(0)
        )
        rep.new_bar_rows = discover_unprocessed(
            bars_work, done, ["symbol_id", "date"]
        ).count()
        st.done(rep.work_symbols, note=f"{rep.new_bar_rows} unprocessed bar rows")

    # ---- stage 3+4: indicators → signals over the work set ----
    if rep.work_symbols == 0:
        rep.stages.append(StageRecord("indicators", 0.0, 0, "skipped: no stale symbols"))
        rep.stages.append(StageRecord("signals", 0.0, 0, "skipped: no stale symbols"))
    else:
        with _staged(rep, "indicators") as st:
            feats = compute_indicators(bars_work).withColumn(
                "processed_at", F.current_timestamp()
            )
            io.upsert(feats, T_FEATURES, ["symbol_id", "date"])
            st.done(io.read(T_FEATURES).count())
        with _staged(rep, "signals") as st:
            # keep the pinned result referenced until the upsert has
            # run: dropping it releases the feature cache the plan
            # reads, and the release must happen inside this run
            sig = all_signals(io.read(T_FEATURES).join(
                F.broadcast(work_ids), "symbol_id", "semi"
            ))
            io.upsert(
                sig.withColumn("processed_at", F.current_timestamp()),
                T_SIGNALS,
                ["symbol_id", "date", "trade_strategy"],
            )
            del sig
            st.done(io.read(T_SIGNALS).count())

    # ---- stage 5: screener (market-wide rank — always recomputes) ----
    with _staged(rep, "screener") as st:
        io.overwrite(daily_screener(spark, sf_dir), T_SCREENER)
        st.done(io.read(T_SCREENER).count())

    # ---- stage 6: chart input for the picks ----
    with _staged(rep, "chart_input") as st:
        io.overwrite(top25_chart_input(spark, sf_dir), T_CHART)
        st.done(io.read(T_CHART).count())

    # ---- stage 7: ledger commit (per-symbol processed ranges) ----
    with _staged(rep, "commit") as st:
        if rep.work_symbols:
            ranges = bars_work.groupBy("symbol_id").agg(
                F.min("date").alias("first_date"), F.max("date").alias("last_date")
            )
            ledger.commit_success(GROUP, ranges, now=now)
        st.done(rep.work_symbols)

    # ---- stage 8: consistency report (--check-only analog) ----
    with _staged(rep, "check") as st:
        rep.consistency = consistency_check(io).collect()
        st.done(len(rep.consistency))

    rep.total_wall_sec = round(time.time() - t_start, 3)
    return rep
