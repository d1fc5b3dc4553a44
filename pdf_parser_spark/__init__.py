"""pdf_parser_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the capabilities of the reference single-machine PDF tool
(herryqg/pdf-parser, surveyed in repo:SURVEY.md) as an idiomatic Spark
pipeline over Common-Crawl-style document tables:

- ``pdfcore``   pure-Python PDF 1.7 kernel (lexer, xref, FlateDecode,
                object streams, content tokenizer, CMap decode) — no
                pikepdf/PyMuPDF/fontTools anywhere.
- ``htmlcore``  DOM-heuristic HTML boilerplate stripper (tag-density +
                text-block scoring, Arc90/boilerpipe-style).
- ``pdfgen``    deterministic synthetic PDF writer used for golden tests
                and corpus synthesis (never used by the extraction path).
- ``engine``    the Spark layer: Arrow-batched ``mapInArrow`` extractor,
                url-hash partitioning with host salting, audit/lineage
                table, snapshot resume.
- ``functions`` large-scale training-data operators: dedup (exact /
                MinHash-LSH / SimHash / n-gram Jaccard), text analysis,
                cleaning, filtering, packing.
"""

__version__ = "0.1.0"
