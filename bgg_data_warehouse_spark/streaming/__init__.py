from .incremental import high_watermark
from . import tracking

__all__ = ["high_watermark", "tracking"]
