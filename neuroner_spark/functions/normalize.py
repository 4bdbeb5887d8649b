"""Text normalization (SURVEY.md P1/P2).

Reference parity:
- P2: ``src/utils_nlp.py :: replace_unicode_whitespaces_with_ascii_space``
  — every Unicode whitespace char becomes one ASCII space.  Our version
  is LENGTH-PRESERVING (1 char -> 1 char) so char offsets computed on
  normalized text remain valid against the original; this is the
  per-url byte-identity invariant from BASELINE.json#input_hint.
- P1: ``src/utils_nlp.py :: is_token_in_pretrained_embeddings`` probe
  variants — lowercase, digits->0, folded inline by ``surface_norm``.

All JVM-side (`pyspark.sql.functions`), no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex for "any unicode whitespace". Java's \s is ASCII-only by
# default; (?U) makes it match Unicode whitespace like Python's re.
_UNICODE_WS = r"(?U)\s"


def normalize_whitespace(col: Column) -> Column:
    """P2: each unicode-whitespace char -> one ASCII space (length-preserving)."""
    return F.regexp_replace(col, _UNICODE_WS, " ")


def surface_norm(col: Column) -> Column:
    """Alias/mention normalization for candidate-gen joins (J8):
    lowercase + digits->0 + whitespace collapsed + trimmed."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"\d", "0")
    c = F.regexp_replace(c, _UNICODE_WS + "+", " ")
    return F.trim(c)
