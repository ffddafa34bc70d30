"""Engine configuration.

API parity with the reference's ETLConfig
(/root/reference/src/config.rs:6-115): pipeline knobs (batch_size,
parallel_workers, timeout, retries), env-var overrides with the same
ETL_* names (/root/reference/src/config.rs:124-174), and validation that
rejects zero batch/workers/memory (/root/reference/src/config.rs:195-220).
Spark-native knobs (shuffle partitions, merge bucket count, salt) are
added for the CDC engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace

from etl_rs_spark.errors import ConfigError

_ENV_PREFIX = "ETL_"


@dataclass(frozen=True)
class PipelineConfig:
    batch_size: int = 1000
    parallel_workers: int = field(default_factory=lambda: os.cpu_count() or 4)
    timeout_seconds: int = 300
    retry_attempts: int = 3
    retry_delay_ms: int = 1000
    retry_backoff_multiplier: float = 2.0  # RetryConfig.backoff_multiplier
    # (/root/reference/src/traits.rs:186-201)


@dataclass(frozen=True)
class PerformanceConfig:
    memory_limit_mb: int = 1024
    io_buffer_size_kb: int = 64
    chunk_size: int = 1000
    # reference PerformanceConfig parity
    # (/root/reference/src/config.rs:44-49,105-112)
    disk_cache_size_mb: int = 512
    connection_pool_size: int = 10
    connection_timeout_seconds: int = 30


@dataclass(frozen=True)
class FeatureFlags:
    """Reference FeatureFlags (/root/reference/src/config.rs:25-32,
    83-93) — stored there but never consulted; here each flag gates a
    real engine behavior — plus two engine-native flags for the
    surfaces the reference doesn't have."""

    enable_metrics: bool = True  # Pipeline metrics accumulation
    enable_logging: bool = True  # event emission
    enable_tracing: bool = True  # kept for reference parity (no-op)
    enable_validation: bool = True  # Validator stage runs
    enable_caching: bool = False  # kept for reference parity (no-op;
    # MultiLoader's persist-once is always on — correctness, not cache)
    # engine-native
    enable_dead_letter: bool = True  # CDC dead-letter quarantine
    enable_lineage: bool = True  # per-batch lineage records


@dataclass(frozen=True)
class ObservabilityConfig:
    """Reference ObservabilityConfig (/root/reference/src/config.rs:
    35-41,96-103). log_format mirrors the LogFormat enum
    (json|pretty|compact)."""

    log_level: str = "info"
    metrics_endpoint: str | None = None
    tracing_endpoint: str | None = None
    log_format: str = "pretty"


@dataclass(frozen=True)
class CdcConfig:
    """Spark-native CDC knobs (no reference analogue; the reference's
    DeltaLoader merge is a stub, /root/reference/src/load/delta.rs:255-267)."""

    merge_keys: tuple[str, ...] = ("conv_id", "turn_idx")
    order_cols: tuple[str, ...] = ("ts", "lsn")
    num_buckets: int = 16
    salt_buckets: int = 0  # 0 = single-stage LWW; >0 = two-stage salted
    schema_evolution: bool = True
    #: compact the table every N applied microbatches (None = never);
    #: consumed by StreamDriver when built from an EngineConfig. On a
    #: merge-on-read table this also folds outstanding delta files.
    compact_every: int | None = None
    #: run retention every N applied microbatches (None = never):
    #: expire_snapshots(keep_last=retention_keep_last) then an orphan
    #: vacuum, both driver-side with no Spark job — bounds snapshot
    #: count, manifest bytes and dead data files over a 10^10-event
    #: run with no external scheduler. Vacuum keeps its in-flight
    #: grace (default 3h), so a concurrent writer's uncommitted files
    #: are never raced.
    retention_every: int | None = None
    retention_keep_last: int = 10
    #: merge write mode: None defers to the table property
    #: ``write.merge.mode`` (default copy-on-write); "merge-on-read"
    #: appends per-bucket delta files (write cost O(batch)) with LWW
    #: resolution at read/compaction — see sinks/lake.LakeTable.merge
    merge_mode: str | None = None
    #: when set, envelope rows that cannot be merged (null key/order
    #: fields, unparseable payload JSON) are quarantined to this
    #: directory instead of poisoning the LWW dedup; None = legacy
    #: flow-through. Detection rides the dedup scan via df.observe, so
    #: the happy path stays one pass (the quarantine write job only
    #: runs when bad rows actually exist).
    dead_letter_dir: str | None = None
    #: source-to-table column mapping applied to each batch's WINNERS
    #: after payload normalization (a metadata-only withColumnsRenamed,
    #: JVM-side): the operational pair of LakeTable.rename_column — the
    #: table renames in place, the source keeps emitting the old
    #: payload key, and the stream maps it onto the renamed column
    #: instead of re-widening the schema with the stale name. Keys are
    #: payload field names; merge key/order columns are not mappable
    #: (dedup runs before the map). None = identity.
    column_map: dict | None = None
    #: observe each batch's raw LSN span (count/min/max ride the dedup
    #: scan via df.observe — no extra job) and report per-batch
    #: intra-range holes; StreamDriver folds the spans into run-level
    #: coverage (StreamDriver.lsn_coverage) so a lost binlog segment
    #: surfaces as a hole instead of silent data loss.
    track_lsn_gaps: bool = True
    #: payload key -> target type for normalization (overrides the
    #: built-in DEFAULT_COERCE_SPEC when set). Complex targets
    #: (``struct<...>``/``array<...>``/``map<...>``) parse natively
    #: inside the from_json pass (cdc/normalize.normalize_events), so a
    #: transcript's nested tool-call payload types end-to-end from TOML:
    #:   [cdc.coerce_spec]
    #:   tool_info = "struct<name:string, calls:int>"
    coerce_spec: dict | None = None
    #: apply the stream onto this BRANCH of the table instead of main
    #: (LakeTable.on_branch) — the write-audit-publish ingest pattern:
    #: a suspect binlog window lands on a branch, gets audited, then
    #: fast-forwarded to main (or dropped) by the admin job. None = main.
    branch: str | None = None


@dataclass(frozen=True)
class EngineConfig:
    pipeline: PipelineConfig = field(default_factory=PipelineConfig)
    performance: PerformanceConfig = field(default_factory=PerformanceConfig)
    cdc: CdcConfig = field(default_factory=CdcConfig)
    features: FeatureFlags = field(default_factory=FeatureFlags)
    observability: ObservabilityConfig = field(
        default_factory=ObservabilityConfig
    )

    def validate(self) -> "EngineConfig":
        """Reject zero-valued knobs, mirroring the reference's
        ConfigValidation (/root/reference/src/config.rs:195-220)."""
        if self.pipeline.batch_size <= 0:
            raise ConfigError("batch_size must be > 0")
        if self.pipeline.parallel_workers <= 0:
            raise ConfigError("parallel_workers must be > 0")
        if self.performance.memory_limit_mb <= 0:
            raise ConfigError("memory_limit_mb must be > 0")
        if self.cdc.num_buckets <= 0:
            raise ConfigError("num_buckets must be > 0")
        if self.cdc.merge_mode not in (None, "copy-on-write", "merge-on-read"):
            raise ConfigError(
                "merge_mode must be copy-on-write|merge-on-read, "
                f"got {self.cdc.merge_mode!r}"
            )
        if self.observability.log_format not in ("json", "pretty", "compact"):
            raise ConfigError(
                f"log_format must be json|pretty|compact, "
                f"got {self.observability.log_format!r}"
            )
        return self

    def effective_cdc(self) -> CdcConfig:
        """CDC config with the feature flags applied: the dead-letter
        quarantine is disabled when features.enable_dead_letter is off
        (bad rows then flow through the legacy path)."""
        cdc = self.cdc
        if not self.features.enable_dead_letter and cdc.dead_letter_dir:
            cdc = replace(cdc, dead_letter_dir=None)
        return cdc

    @classmethod
    def from_env(cls) -> "EngineConfig":
        """ETL_BATCH_SIZE / ETL_PARALLEL_WORKERS / ETL_TIMEOUT_SECONDS /
        ETL_RETRY_ATTEMPTS env overrides, same names as the reference
        (/root/reference/src/config.rs:124-174)."""
        cfg = cls()
        pipe = cfg.pipeline
        mapping = {
            "BATCH_SIZE": "batch_size",
            "PARALLEL_WORKERS": "parallel_workers",
            "TIMEOUT_SECONDS": "timeout_seconds",
            "RETRY_ATTEMPTS": "retry_attempts",
            "RETRY_DELAY_MS": "retry_delay_ms",
        }
        updates: dict[str, int] = {}
        for env_key, attr in mapping.items():
            raw = os.environ.get(_ENV_PREFIX + env_key)
            if raw is not None:
                try:
                    updates[attr] = int(raw)
                except ValueError as exc:
                    raise ConfigError(
                        f"invalid {_ENV_PREFIX + env_key}={raw!r}: not an int"
                    ) from exc
        if updates:
            pipe = replace(pipe, **updates)
        return replace(cfg, pipeline=pipe).validate()

    @classmethod
    def from_toml(cls, toml_str: str) -> "EngineConfig":
        """Config from a TOML string — reference ETLConfig::from_toml
        (/root/reference/src/config.rs:186-192). Section/field names
        mirror the reference's [pipeline] / [performance] / [features] /
        [observability] tables, plus the Spark-native [cdc] section;
        unknown keys are ignored (the reference's serde deserializer is
        equally permissive)."""
        import tomllib

        try:
            doc = tomllib.loads(toml_str)
        except tomllib.TOMLDecodeError as exc:
            raise ConfigError(f"invalid TOML: {exc}") from exc
        cfg = cls()

        def _section(obj, data):
            known = {f for f in obj.__dataclass_fields__}
            updates = {}
            for k, v in (data or {}).items():
                if k in known:
                    cur = getattr(obj, k)
                    try:
                        if cur is None:
                            updates[k] = v  # Optional field: take as-is
                        elif isinstance(cur, bool):
                            if not isinstance(v, bool):
                                raise TypeError("expected a boolean")
                            updates[k] = v
                        elif isinstance(cur, tuple):
                            updates[k] = tuple(v)
                        else:
                            updates[k] = type(cur)(v)
                    except (TypeError, ValueError) as exc:
                        raise ConfigError(
                            f"invalid value for {k}: {v!r}"
                        ) from exc
            return replace(obj, **updates) if updates else obj

        return replace(
            cfg,
            pipeline=_section(cfg.pipeline, doc.get("pipeline")),
            performance=_section(cfg.performance, doc.get("performance")),
            cdc=_section(cfg.cdc, doc.get("cdc")),
            features=_section(cfg.features, doc.get("features")),
            observability=_section(
                cfg.observability, doc.get("observability")
            ),
        ).validate()

    @classmethod
    def from_file(cls, path: str) -> "EngineConfig":
        """Config from a TOML file — reference ETLConfig::from_file
        (/root/reference/src/config.rs:177-184)."""
        try:
            with open(path) as f:
                return cls.from_toml(f.read())
        except OSError as exc:
            raise ConfigError(f"cannot read config file {path}: {exc}") from exc
