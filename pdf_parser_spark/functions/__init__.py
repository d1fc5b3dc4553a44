"""Training-data pipeline operators: cleaning, filtering, dedup,
text analysis and packing.

These widen the engine beyond the reference's extraction surface
(SURVEY.md §2) with the operations a 100 TB training-data pipeline
needs. Hot paths are Spark built-ins (JVM/whole-stage-codegen); Python
runs only where no built-in exists: Unicode NFC in ``cleaning`` and
the robots.txt parse in ``robots``.

The per-row text operators (``textstats``, the dedup shingle and
signature expressions, the quality gate, Gopher rules, paragraph dedup,
packing, connected components) are built as Spark SQL text: one JVM
call per projection (``selectExpr``) or aggregate (``F.expr``), where a
Python ``F.*`` call tree pays about three driver-to-JVM round trips per
expression node. Their helpers take column names, not Columns.
"""

from . import (  # noqa: F401
    chunking,
    cleaning,
    dedup,
    filtering,
    packing,
    pii,
    sampling,
    sketches,
    textstats,
)
