"""qfilter_spark — a PySpark-native distributed sketch/approximate-aggregation
library centered on a Rank-Select Quotient Filter rebuilt as a mergeable
aggregation state, alongside Bloom, HLL, count-min, KLL, and t-digest.

Reference semantics: arthurprs/qfilter (/root/reference, read-only).
Architecture: SURVEY.md. This is a from-scratch Spark-first design, not a port.
"""

from . import _pyworker
from .errors import (
    CapacityExceeded,
    CapacityTooLarge,
    IncompatibleFingerprintSize,
    NotEnoughFingerprintBits,
    QFilterError,
)
from .rsqf import Filter

__all__ = [
    "Filter",
    "QFilterError",
    "CapacityExceeded",
    "CapacityTooLarge",
    "IncompatibleFingerprintSize",
    "NotEnoughFingerprintBits",
]

__version__ = "0.1.0"

# every library UDF imports this package when it is unpickled on a worker
_pyworker.install()
