"""Engine error hierarchy, mirroring the reference's error surface
(CREATE-time type rejection ``src/udf.rs:35-46``, config validation
``src/config.rs:30-44``, non-literal body ``src/lib.rs:53-54``)."""


class LightFusionError(Exception):
    """Base class for all lightfusion_spark errors."""


class LightFusionConfigError(LightFusionError, ValueError):
    """Unknown configuration key or invalid value (``src/config.rs:30-44``)."""


class UnsupportedTypeError(LightFusionError, TypeError):
    """Unsupported input/return type at CREATE FUNCTION time (``src/udf.rs:35-46``)."""


class InvalidDdlError(LightFusionError, ValueError):
    """Malformed LIGHTGBM DDL, e.g. non-literal function body (``src/lib.rs:53-54``)."""


class UnsupportedModelError(LightFusionError, ValueError):
    """A LightGBM text model whose objective or flags the scorer does not
    reproduce (rejected at parse, so at CREATE FUNCTION time, rather than
    silently mis-scored)."""
