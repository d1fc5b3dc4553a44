"""Spark layer: Arrow-batched extraction over Common-Crawl-style tables.

Pipeline (SURVEY.md §3.1 engine lifecycle):

    webdocs (file scan: its own splits; generated input: url-hash
    repartition + host salting) → mapInArrow(extract_batch_arrow) →
    parsed (text + metrics, spans / items arrays on request) →
    extracted / spans / audit views → parquet sinks (snapshot-resumable)
"""

from .session import build_session  # noqa: F401
from .corpus import synthesize_webdocs, WEBDOCS_SCHEMA  # noqa: F401
from .extractor import extract_batch_arrow, run_extraction, PARSED_SCHEMA  # noqa: F401
from .partitioning import salted_repartition  # noqa: F401
from .snapshots import (  # noqa: F401
    AtomicStore,
    MemoryStore,
    PosixStore,
    SnapshotExpiredError,
    SnapshotLog,
    snapshot_resumable_extract,
)
