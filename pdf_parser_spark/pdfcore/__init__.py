"""Pure-Python PDF 1.7 kernel (ISO 32000 semantics, public spec).

From-scratch replacements for the layers the reference delegates to
pikepdf/PyMuPDF (see SURVEY.md §1.4): object lexer, xref table/stream +
trailer chain, FlateDecode with PNG predictors, object-stream slicing,
page-tree walk with inherited attributes, content-stream tokenizer and
CMap/ToUnicode decoding.

No Spark imports here — everything is unit-testable in milliseconds and
is invoked from the Arrow-batched ``mapInArrow`` extractor in
``pdf_parser_spark.engine``.
"""

from .extract import extract_pdf, ExtractResult  # noqa: F401
from .cmap import parse_cmap, decode_pdf_string, synthesize_tounicode_cmap  # noqa: F401
