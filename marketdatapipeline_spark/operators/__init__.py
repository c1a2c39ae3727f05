"""Relational operators Spark lacks natively, built as compositions
of DataFrame primitives (never driver loops, never cross products):

- :func:`asof_join` — point-in-time join (trades -> latest quote);
- :func:`sessionize` — gap-based session assignment;
- :func:`rollup_bars` — multi-granularity OHLCV rollup;
- :func:`point_in_interval_join` — bin-bucketed range join;
- :func:`interval_overlap_join` — bin-bucketed interval×interval
  overlap join (responsibility-bin dedup, no distinct; inner/left);
- :func:`anchored_vwap` — day/week/month-anchored running VWAP;
- :func:`resample_ffill` — dense calendar grid with forward fill;
- :func:`ohlc_volatility` — rolling Parkinson / Garman-Klass /
  Rogers-Satchell range volatility;
- :func:`cross_sectional` — per-time-bucket rank / z-score / demean;
- :func:`running_drawdown` — cumulative peak + fractional drawdown;
- :func:`pairwise_return_correlation` — bar-index-aligned sample
  correlation for every symbol pair (``lag=k`` for lead-lag);
- :func:`rolling_beta` — trailing equal-weight-market beta per symbol;
- :func:`realized_moments` / :func:`return_autocorrelation` — exact
  power-sum return moments (mean/std/skew/kurtosis) and lag-k
  autocorrelation with the AR(1) mean-reversion half-life;
- :func:`candlestick_flags` / :func:`candlestick_census` — per-bar
  OHLC pattern flags (doji/hammer/engulfing) and the per-symbol
  pattern counts;
- :func:`amihud_illiquidity` — price impact per dollar volume;
- :func:`tick_rule_flow` / :func:`kyle_lambda` — tick-rule signed
  order-flow imbalance per time bucket, and the signed-volume price
  impact slope;
- :func:`variance_ratio` — Lo-MacKinlay k-period variance ratio, the
  random-walk / mean-reversion diagnostic;
- :func:`hurst_exponent` — aggregated-variance Hurst exponent, the
  cross-scale long-memory regression;
- :func:`event_study` — join-free aligned return curve around
  detected events (lag-fan-out, never a range join);
- :func:`heikin_ashi` — smoothed candles; the ha_open recursion IS
  an alpha-0.5 EWMA, riding the all-JVM EWMA scan;
- :func:`funnel` / :func:`cohort_retention` — product analytics over
  event streams: strictly-sequential first-touch funnels (array
  algebra, no per-step self-joins) and retention triangles;
- :func:`anchored_twap` — time-weighted benchmark next to VWAP;
- :func:`pair_spread_zscore` — pairs-trading log-spread rolling
  z-score for one symbol pair;
- :func:`portfolio_returns` — weighted portfolio return per aligned
  bar index (broadcast weights, renormalized over present symbols);
- :func:`volume_bars` — activity-clocked resampling onto volume or
  dollar buckets (exact cumulative-clock bucket assignment);
- :func:`signal_returns` / :func:`vector_backtest` — vectorized
  signal backtest: log-sum equity curve, Sharpe, max drawdown,
  turnover — windows and power sums only, no event loop;
- :func:`salted_collect_list` / :func:`salted_join_left_hot` — skew
  mitigation for holistic aggregates and hot-key joins.
"""

from marketdatapipeline_spark.operators.asof import asof_join
from marketdatapipeline_spark.operators.backtest import signal_returns, vector_backtest
from marketdatapipeline_spark.operators.beta import rolling_beta
from marketdatapipeline_spark.operators.candles import (
    candlestick_census,
    candlestick_flags,
)
from marketdatapipeline_spark.operators.correlation import (
    pairwise_return_correlation,
)
from marketdatapipeline_spark.operators.cross_section import cross_sectional
from marketdatapipeline_spark.operators.drawdown import (
    drawdown_summary,
    running_drawdown,
    underwater_spells,
)
from marketdatapipeline_spark.operators.event_study import event_study
from marketdatapipeline_spark.operators.events import cohort_retention, funnel
from marketdatapipeline_spark.operators.heikin_ashi import heikin_ashi
from marketdatapipeline_spark.operators.hurst import hurst_exponent
from marketdatapipeline_spark.operators.interval_join import (
    interval_overlap_join,
)
from marketdatapipeline_spark.operators.liquidity import (
    amihud_illiquidity,
    corwin_schultz_spread,
    kyle_lambda,
    tick_rule_flow,
    vpin,
)
from marketdatapipeline_spark.operators.moments import (
    realized_moments,
    return_autocorrelation,
)
from marketdatapipeline_spark.operators.ohlc_vol import ohlc_volatility
from marketdatapipeline_spark.operators.range_join import point_in_interval_join
from marketdatapipeline_spark.operators.resample import detect_gaps, resample_ffill
from marketdatapipeline_spark.operators.rollup import rollup_bars
from marketdatapipeline_spark.operators.pairs import (
    pair_spread_zscore,
    rolling_pair_correlation,
)
from marketdatapipeline_spark.operators.portfolio import portfolio_returns
from marketdatapipeline_spark.operators.ranking import global_row_number
from marketdatapipeline_spark.operators.variance_ratio import variance_ratio
from marketdatapipeline_spark.operators.volume_bars import volume_bars
from marketdatapipeline_spark.operators.vwap import anchored_twap, anchored_vwap
from marketdatapipeline_spark.operators.salting import (
    salted_collect_list,
    salted_join_left_hot,
)
from marketdatapipeline_spark.operators.sessions import sessionize

__all__ = [
    "global_row_number",
    "amihud_illiquidity",
    "corwin_schultz_spread",
    "anchored_twap",
    "kyle_lambda",
    "tick_rule_flow",
    "vpin",
    "anchored_vwap",
    "pair_spread_zscore",
    "rolling_pair_correlation",
    "portfolio_returns",
    "variance_ratio",
    "volume_bars",
    "asof_join",
    "candlestick_census",
    "candlestick_flags",
    "cross_sectional",
    "interval_overlap_join",
    "cohort_retention",
    "event_study",
    "funnel",
    "heikin_ashi",
    "hurst_exponent",
    "ohlc_volatility",
    "pairwise_return_correlation",
    "point_in_interval_join",
    "realized_moments",
    "detect_gaps",
    "resample_ffill",
    "return_autocorrelation",
    "rolling_beta",
    "rollup_bars",
    "drawdown_summary",
    "running_drawdown",
    "underwater_spells",
    "signal_returns",
    "vector_backtest",
    "salted_collect_list",
    "salted_join_left_hot",
    "sessionize",
]
