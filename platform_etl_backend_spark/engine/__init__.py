from platform_etl_backend_spark.engine.session import get_spark
from platform_etl_backend_spark.engine.config import (
    IOResourceConfig,
    WRITE_MODES,
    validate_write_mode,
)
from platform_etl_backend_spark.engine.io import IOResource, read_from, write_to

__all__ = [
    "get_spark",
    "IOResourceConfig",
    "WRITE_MODES",
    "validate_write_mode",
    "IOResource",
    "read_from",
    "write_to",
]
