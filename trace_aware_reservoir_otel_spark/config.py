"""Pipeline configuration.

Spark-native analog of the reference's processor config
(/root/reference/internal/processor/reservoirsampler/config.go:12-73,
defaults config.go:139-152): 9 scalar knobs with validation. Durations are
accepted as Go-style strings ("60s", "1m30s", "500ms") or seconds.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, fields

_DUR_RE = re.compile(r"(\d+(?:\.\d+)?)(ms|s|m|h|d)")
_DUR_UNITS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}


def parse_duration(value: "str | int | float") -> float:
    """Parse a Go-style duration string ("60s", "1m30s") to seconds.

    Analog of config.go:96-137 (custom JSON duration round-trip).
    """
    if isinstance(value, (int, float)):
        if value < 0:
            raise ValueError(f"negative duration: {value!r}")
        return float(value)
    s = value.strip().lower()
    if not s:
        raise ValueError("empty duration")
    if re.fullmatch(r"\d+(\.\d+)?", s):
        return float(s)
    pos = 0
    total = 0.0
    for m in _DUR_RE.finditer(s):
        if m.start() != pos:
            raise ValueError(f"bad duration {value!r}")
        total += float(m.group(1)) * _DUR_UNITS[m.group(2)]
        pos = m.end()
    if pos != len(s):
        raise ValueError(f"bad duration {value!r}")
    return total


@dataclass(frozen=True)
class PipelineConfig:
    """Validated job config (analog of config.go Validate, config.go:45-73).

    size_k            : reservoir capacity per tumbling window (conversations
                        kept whole — the trace-aware upgrade of the
                        reference's span-level ``size_k``).
    window_duration_s : tumbling-window width (window.go:108-122).
    trace_aware       : sampling unit of every mode (batch, checkpoint,
                        streaming): whole conversations (True) or
                        individual turns (False) — processor.go:265-314
                        aware vs simple. Turn sampling draws from the
                        turns the routing rules would sample (no late,
                        evicted, expired or violating rows), one unit per
                        (window, conv, turn).
    buffer_max_convs  : per-window capacity before overflow routing — the
                        deterministic replacement for LRU eviction
                        (trace_buffer.go:107-110,201-240). None = unbounded.
    late_tolerance_s  : a turn whose ts precedes its conversation's first
                        turn by more than this routes to dlq(reason='late')
                        instead of being silently mis-windowed (the
                        reference rolls late spans into the next window,
                        window.go:75-105 — documented divergence).
    max_conv_span_s   : declared upper bound on a conversation's event-time
                        extent (first to last turn). With late_tolerance_s
                        set, this enables MID-STREAM rollover export: once
                        the event-time high watermark passes
                        window_end + late_tolerance + max_conv_span, no
                        compliant conversation's root-turn timestamp can
                        still change, so the window's late classification
                        is final and it exports immediately (the
                        reference's continuous export, processor.go:317-347).
                        Conversations observed to violate the bound route
                        to dlq(reason='span_violation') explicitly. None
                        (default) = no bound: with lateness on, export
                        defers to flush.
    export_bucket_windows : routed-table bucket — consecutive windows are
                        grouped into buckets of this many. In every mode
                        (batch, checkpoint, streaming) the routed table is
                        partitioned by bucket (window_bucket; -1 holds
                        null-window rows); streaming also uses it for
                        state partitioning and rollover export. Bounds
                        file counts when windows are numerous and tiny
                        (one directory per window, and in streaming per
                        micro-batch, otherwise); the streaming cost is
                        export latency of up to bucket_span (windows
                        export when their whole bucket's horizon passes).
    seed              : sampling seed; priorities are pure functions of
                        (seed, window, unit) so runs are bit-reproducible
                        (unlike reservoir.go:52-54 time-seeded RNG).
    salt_buckets      : phase-1 salt fan-out for skewed windows (SURVEY §7.4).
    weight_col        : optional column name holding per-conversation
                        sampling weight (A-Res); None = uniform.
    """

    size_k: int = 64
    window_duration_s: float = 60.0
    trace_aware: bool = True
    buffer_max_convs: "int | None" = None
    late_tolerance_s: float = 3600.0
    max_conv_span_s: "float | None" = None
    export_bucket_windows: int = 32
    seed: int = 42
    salt_buckets: int = 16
    weight_col: "str | None" = None
    priority: str = "ares"  # 'ares' (weighted) | 'int' (exact, oracle-portable)
    hash_impl: str = "xxh"  # 'xxh' (fast JVM path) | 'md5' (DuckDB-portable)
    run_id: str = "run-0"

    def __post_init__(self) -> None:
        if self.size_k <= 0:
            raise ValueError("size_k must be positive")
        if self.window_duration_s <= 0:
            raise ValueError("window_duration_s must be positive")
        if self.buffer_max_convs is not None and self.buffer_max_convs <= 0:
            raise ValueError("buffer_max_convs must be positive or None")
        if self.salt_buckets <= 0:
            raise ValueError("salt_buckets must be positive")
        if self.priority not in ("ares", "int"):
            raise ValueError(f"unknown priority {self.priority!r}")
        if self.hash_impl not in ("xxh", "md5"):
            raise ValueError(f"unknown hash_impl {self.hash_impl!r}")
        if self.priority == "int" and self.weight_col is not None:
            # the int order reads prio_int, which carries no weight
            raise ValueError("priority='int' ignores weight_col; use priority='ares'")
        if self.late_tolerance_s is not None and self.late_tolerance_s < 0:
            raise ValueError("late_tolerance_s must be >= 0 or None (disabled)")
        if self.max_conv_span_s is not None and self.max_conv_span_s <= 0:
            raise ValueError("max_conv_span_s must be positive or None (no bound)")
        if self.export_bucket_windows <= 0:
            raise ValueError("export_bucket_windows must be positive")

    @classmethod
    def from_dict(cls, d: dict) -> "PipelineConfig":
        d = dict(d)
        for key in ("window_duration", "late_tolerance", "max_conv_span"):
            if key in d:
                d[key + "_s"] = parse_duration(d.pop(key))
        unknown = sorted(set(d) - {f.name for f in fields(cls)})
        if unknown:
            raise ValueError(f"unknown config keys: {', '.join(unknown)}")
        return cls(**d)
