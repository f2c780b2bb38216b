"""Oracle extractor library.

One module per reference payload family. Each module exposes

    extract(payload: str) -> ExtractResult

where ``ExtractResult`` is a plain dict::

    {
      "extracted_text": str,          # main content (boilerplate stripped)
      "spans": [ {"label","start","end","value"} ... ],  # labeled spans,
                                      # offsets into the ORIGINAL payload
      "records": [ {...} ... ],       # family-specific golden rows
      "parse_errors": int,
    }

The same functions run (a) inside the Spark ``mapInArrow`` stage, batched
over documents, and (b) standalone under pytest as the correctness oracle
(SURVEY.md §5.2: oracle reimplemented once, shared). All regexes are
compiled at import time (the reference recompiles per call — a known
inefficiency, SURVEY.md §4).
"""

from __future__ import annotations
