from .ingest import streaming_extract_to_snapshots  # noqa: F401
