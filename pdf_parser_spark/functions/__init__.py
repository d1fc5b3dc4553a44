"""Training-data pipeline operators: dedup, similarity, text analysis,
multimodal plumbing.

These widen the engine beyond the reference's extraction surface
(SURVEY.md §2) with the operations a 100 TB training-data pipeline
needs. All hot paths are Spark built-ins (JVM/whole-stage-codegen);
Python appears only in clearly-marked multimodal decode stubs.
"""

from . import (  # noqa: F401
    chunking,
    cleaning,
    dedup,
    filtering,
    multimodal,
    packing,
    pii,
    sampling,
    similarity,
    sketches,
    textstats,
)
