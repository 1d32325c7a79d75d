from trace_aware_reservoir_otel_spark.functions.hashing import (  # noqa: F401
    HEX_DIGITS,
    TWO_POW_52,
    duck_pbig,
    duck_u,
    pbig,
    row_key_hash,
)
