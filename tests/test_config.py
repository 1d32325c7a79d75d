import pytest

from trace_aware_reservoir_otel_spark.config import PipelineConfig, parse_duration


def test_parse_duration():
    assert parse_duration("60s") == 60.0
    assert parse_duration("1m30s") == 90.0
    assert parse_duration("500ms") == 0.5
    assert parse_duration("2h") == 7200.0
    assert parse_duration(45) == 45.0
    assert parse_duration("45") == 45.0
    with pytest.raises(ValueError):
        parse_duration("abc")
    with pytest.raises(ValueError):
        parse_duration("")
    with pytest.raises(ValueError):
        parse_duration(-1)


def test_config_validation():
    # mirrors the reference's Validate matrix (config.go:45-73)
    PipelineConfig(size_k=10, window_duration_s=60)
    with pytest.raises(ValueError):
        PipelineConfig(size_k=0)
    with pytest.raises(ValueError):
        PipelineConfig(window_duration_s=0)
    with pytest.raises(ValueError):
        PipelineConfig(buffer_max_convs=0)


def test_config_from_dict_durations():
    cfg = PipelineConfig.from_dict({"size_k": 5, "window_duration": "2m"})
    assert cfg.window_duration_s == 120.0


def test_config_from_dict_rejects_unknown_keys():
    # checkpoint slicing is run_with_checkpoint's n_units argument; a
    # config that still names the old field must fail, not be ignored,
    # with the ValueError every other invalid config raises
    with pytest.raises(ValueError, match="checkpoint_units"):
        PipelineConfig.from_dict({"checkpoint_units": 3})
    # the untyped `extra` dict is gone with the late-join strategy it carried
    with pytest.raises(ValueError, match="extra"):
        PipelineConfig.from_dict({"extra": {"late_strategy": "shuffle"}})
    # the phase-1 top-k formulation is not a pipeline option
    with pytest.raises(ValueError, match="method"):
        PipelineConfig.from_dict({"method": "pandas"})
    with pytest.raises(ValueError, match="size, window_duration_x"):
        PipelineConfig.from_dict({"size": 3, "window_duration_x": 1, "size_k": 2})
