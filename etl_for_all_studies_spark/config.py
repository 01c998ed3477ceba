"""YAML config → typed dataclasses.

Mirrors the reference's config surface (``src/etl_for_all_studies/config.py:11-77``):
same YAML section names (``processing``, ``logging``, ``field_mappings``), same
field-mapping candidate lists and defaults. The ``database`` section (JDBC
connection string, batch_size, retries) is replaced by a ``warehouse`` section
(a Parquet path) because the Spark engine's sink is a partitioned columnar
warehouse, not a row-store. A reference YAML still loads: its
``database.connection_string`` maps to a sibling warehouse directory, and keys
the engine has no use for (batch_size, retries, max_concurrent_studies, ...)
are dropped.
"""
from __future__ import annotations

import dataclasses
import pathlib
from typing import Any

try:
    import yaml
except ModuleNotFoundError:  # pragma: no cover - PyYAML is optional here
    yaml = None


class ConfigurationError(RuntimeError):
    """Raised when configuration cannot be loaded or is invalid."""


@dataclasses.dataclass(frozen=True)
class WarehouseConfig:
    """Where star-schema tables are written.

    Replaces the reference's ``DatabaseConfig`` (``config.py:12-20``): the Spark
    engine writes Parquet tables partitioned by ``study_key`` instead of batched
    row inserts, so it has no ``batch_size``/retry knobs — Spark task retries
    and job-level atomicity subsume them.
    """

    path: pathlib.Path


@dataclasses.dataclass(frozen=True)
class ProcessingConfig:
    """File-system + processing settings (reference ``config.py:23-29``)."""

    input_directory: pathlib.Path
    gene_filter_file: pathlib.Path
    min_samples: int = 2  # reference correlation.py:65 MIN_SAMPLES_FOR_CORRELATION


@dataclasses.dataclass(frozen=True)
class LoggingConfig:
    """Logging toggles (reference ``config.py:32-40``)."""

    log_level: str = "INFO"
    log_directory: pathlib.Path = pathlib.Path("./logs")
    log_processing_time: bool = True
    log_record_counts: bool = True
    log_data_quality: bool = True


@dataclasses.dataclass(frozen=True)
class FieldMappingConfig:
    """Dynamic metadata column candidate lists (reference ``config.py:43-67``)."""

    age_fields: tuple[str, ...] = (
        "refinebio_age",
        "characteristics_ch1_Age",
        "characteristics_ch1_age",
        "MetaSRA_age",
    )
    sex_fields: tuple[str, ...] = (
        "refinebio_sex",
        "characteristics_ch1_Sex",
        "characteristics_ch1_Gender",
        "sex",
    )
    illness_fields: tuple[str, ...] = (
        "characteristics_ch1_Illness",
        "refinebio_disease",
        "illness",
    )
    platform_fields: tuple[str, ...] = (
        "refinebio_platform",
        "platform_id",
    )


@dataclasses.dataclass(frozen=True)
class SparkConfig:
    """Spark-engine knobs (new; no reference equivalent)."""

    master: str = "local[*]"
    shuffle_partitions: int = 32
    app_name: str = "etl-for-all-studies-spark"
    extra_conf: tuple[tuple[str, str], ...] = ()


@dataclasses.dataclass(frozen=True)
class AppConfig:
    """Root configuration object (reference ``config.py:70-77``)."""

    warehouse: WarehouseConfig
    processing: ProcessingConfig
    logging: LoggingConfig = dataclasses.field(default_factory=LoggingConfig)
    field_mappings: FieldMappingConfig = dataclasses.field(default_factory=FieldMappingConfig)
    spark: SparkConfig = dataclasses.field(default_factory=SparkConfig)


def _section(data: dict[str, Any], key: str, *, optional: bool = False) -> dict[str, Any]:
    section = data.get(key)
    if section is None:
        if optional:
            return {}
        raise ConfigurationError(f"Missing required configuration section '{key}'")
    if not isinstance(section, dict):
        raise ConfigurationError(f"Configuration section '{key}' must be a mapping")
    return section


def _path(value: Any, *, must_exist: bool = False) -> pathlib.Path:
    path = pathlib.Path(value).expanduser()
    if must_exist and not path.exists():
        raise ConfigurationError(f"Configured path does not exist: {path}")
    return path


def _filter_known(cls: type, data: dict[str, Any]) -> dict[str, Any]:
    known = {f.name for f in dataclasses.fields(cls)}
    return {k: v for k, v in data.items() if k in known}


def load_config(path: str | pathlib.Path) -> AppConfig:
    """Load and validate a YAML config file (reference ``config.py:112-192``)."""
    if yaml is None:
        raise ConfigurationError("PyYAML is required to load YAML config files")
    cfg_path = pathlib.Path(path)
    if not cfg_path.exists():
        raise ConfigurationError(f"Configuration file not found: {cfg_path}")
    with cfg_path.open("r", encoding="utf-8") as handle:
        data = yaml.safe_load(handle) or {}
    if not isinstance(data, dict):
        raise ConfigurationError("Top-level configuration must be a mapping")
    return config_from_dict(data)


def config_from_dict(data: dict[str, Any]) -> AppConfig:
    """Build an :class:`AppConfig` from a plain dict (programmatic entry)."""
    # warehouse: prefer the new section; fall back to legacy `database` where a
    # sqlite-style connection string is treated as a sibling warehouse directory.
    wh_data = _section(data, "warehouse", optional=True)
    db_data = _section(data, "database", optional=True)
    if not wh_data and not db_data:
        raise ConfigurationError("Missing required configuration section 'warehouse'")
    if not wh_data:
        conn = str(db_data.get("connection_string", ""))
        if not conn:
            raise ConfigurationError("database.connection_string or warehouse.path required")
        tail = conn.split("///")[-1] if "///" in conn else conn
        wh_data = {"path": str(pathlib.Path(tail).with_suffix("")) + "_warehouse"}
    if "path" not in wh_data:
        raise ConfigurationError("warehouse.path is required")
    warehouse = WarehouseConfig(path=_path(wh_data["path"]))

    proc_data = _section(data, "processing")
    for required in ("input_directory", "gene_filter_file"):
        if required not in proc_data:
            raise ConfigurationError(f"processing.{required} is required")
    proc_known = _filter_known(ProcessingConfig, proc_data)
    proc_known["input_directory"] = _path(proc_data["input_directory"], must_exist=True)
    proc_known["gene_filter_file"] = _path(proc_data["gene_filter_file"], must_exist=True)
    processing = ProcessingConfig(**proc_known)

    log_data = _filter_known(LoggingConfig, _section(data, "logging", optional=True))
    if "log_directory" in log_data:
        log_data["log_directory"] = _path(log_data["log_directory"])
    logging_cfg = LoggingConfig(**log_data)

    fm_data = _filter_known(FieldMappingConfig, _section(data, "field_mappings", optional=True))
    fm_data = {k: tuple(v) for k, v in fm_data.items()}
    field_mappings = FieldMappingConfig(**fm_data)

    spark_data = _filter_known(SparkConfig, _section(data, "spark", optional=True))
    if "extra_conf" in spark_data:
        spark_data["extra_conf"] = tuple(
            (str(k), str(v)) for k, v in dict(spark_data["extra_conf"]).items()
        )
    spark_cfg = SparkConfig(**spark_data)

    return AppConfig(
        warehouse=warehouse,
        processing=processing,
        logging=logging_cfg,
        field_mappings=field_mappings,
        spark=spark_cfg,
    )


__all__ = [
    "AppConfig",
    "ConfigurationError",
    "FieldMappingConfig",
    "LoggingConfig",
    "ProcessingConfig",
    "SparkConfig",
    "WarehouseConfig",
    "config_from_dict",
    "load_config",
]
