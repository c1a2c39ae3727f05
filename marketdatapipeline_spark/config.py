"""Pipeline configuration.

Mirrors the reference's centralized config surface
(reference src/config.py:11-76) as an immutable dataclass instead of a
class-attribute singleton, with Spark tuning knobs added.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path


def _env_symbols() -> tuple[str, ...]:
    raw = os.getenv("DEFAULT_SYMBOLS", "AAPL,MSFT,TSLA")
    return tuple(s.strip() for s in raw.split(",") if s.strip())


@dataclass(frozen=True)
class PipelineConfig:
    """All tunables for ingestion, features, targets, and ML.

    Defaults replicate reference src/config.py:17-55 so that feature
    output is comparable column-for-column.
    """

    # --- ingestion (reference src/config.py:14-26) ---
    alpha_vantage_api_key: str = field(
        default_factory=lambda: os.getenv("ALPHAVANTAGE_API_KEY", "")
    )
    rate_limit_sleep_seconds: float = 12.0
    max_retries: int = 3
    retry_backoff_factor: float = 2.0
    default_symbols: tuple[str, ...] = field(default_factory=_env_symbols)
    default_interval: str = "1min"

    # --- storage (reference src/config.py:28-37) ---
    base_dir: Path = field(default_factory=lambda: Path(os.getenv("MDP_BASE_DIR", ".")))
    storage_format: str = "parquet"

    # --- feature parameters (reference src/config.py:39-46) ---
    momentum_periods: tuple[int, ...] = (5, 10, 20, 50)
    volatility_windows: tuple[int, ...] = (10, 20, 60)
    rsi_period: int = 14
    macd_fast: int = 12
    macd_slow: int = 26
    macd_signal: int = 9
    bb_period: int = 20
    bb_std: float = 2.0

    # --- targets / ML (reference src/config.py:36-55) ---
    prediction_horizon: int = 1
    target_type: str = "classification"
    test_size: float = 0.2
    random_state: int = 42
    n_estimators: int = 100
    max_depth: int = 6
    learning_rate: float = 0.1
    subsample: float = 0.8
    colsample_bytree: float = 0.8

    # --- Spark tuning ---
    shuffle_partitions: int = 32
    #: train splits larger than this skip the reference-exact driver
    #: collect and fit distributed (ml/distributed.py). The default
    #: keeps reference-scale runs on the reference-exact path; a
    #: cluster deployment lowers it to taste.
    distributed_train_threshold: int = 5_000_000

    @property
    def raw_data_dir(self) -> Path:
        return self.base_dir / "data" / "raw"

    @property
    def processed_data_dir(self) -> Path:
        return self.base_dir / "data" / "processed"

    @property
    def model_dir(self) -> Path:
        return self.base_dir / "models"

    def ensure_directories(self) -> None:
        for d in (self.raw_data_dir, self.processed_data_dir, self.model_dir):
            d.mkdir(parents=True, exist_ok=True)

    def validate(self, require_api_key: bool = False) -> None:
        """Validate config (reference src/config.py:64-76).

        ``require_api_key=False`` by default because the engine can run
        entirely from parquet fixtures without network access.
        """
        if require_api_key and not self.alpha_vantage_api_key:
            raise ValueError(
                "ALPHAVANTAGE_API_KEY is not defined; set it in the environment"
            )
        if not self.default_symbols:
            raise ValueError("No default symbols are defined")
        self.ensure_directories()


DEFAULT_CONFIG = PipelineConfig()
