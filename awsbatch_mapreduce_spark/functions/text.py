"""Text tokenization helpers — JVM-side expressions only.

Two token-counting regimes a corpus report needs (SURVEY.md Phase 4 /
BASELINE north star "token counting (whitespace + a BPE-ish regex)"):

- whitespace tokens: ``F.split(col, ' ')`` (see
  ``plans.llm_text.text_token_stats``);
- BPE-ish subword pieces: real BPE needs a trained vocab; the standard
  dependency-free proxy for *count estimation* is length-capped chunks
  (a word of length L costs ceil(L / piece_len) pieces, piece_len ~ 4
  chars ~ one English BPE token).  Expressed as a higher-order
  aggregate so 100 TB of text is one narrow projection, no shuffle,
  no Python.

For languages without spaces or a real tokenizer's exact counts, swap
in a pandas_udf with the vocab — the operator shape stays the same.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bpe_ish_piece_count(col: Column | str, piece_len: int = 4) -> Column:
    """Total subword pieces across whitespace tokens:
    sum(ceil(len(word) / piece_len))."""
    if isinstance(col, str):
        col = F.col(col)
    return F.aggregate(
        F.split(col, " "),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.ceil(F.length(w) / F.lit(float(piece_len))).cast("bigint"),
    )

