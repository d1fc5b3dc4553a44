"""Training-data pipeline operators: cleaning, filtering, dedup,
similarity, text analysis and packing.

These widen the engine beyond the reference's extraction surface
(SURVEY.md §2) with the operations a 100 TB training-data pipeline
needs. Hot paths are Spark built-ins (JVM/whole-stage-codegen); Python
runs only where no built-in exists: Unicode NFC in ``cleaning`` and
the robots.txt parse in ``robots``.
"""

from . import (  # noqa: F401
    chunking,
    cleaning,
    dedup,
    filtering,
    packing,
    pii,
    sampling,
    similarity,
    sketches,
    textstats,
)
