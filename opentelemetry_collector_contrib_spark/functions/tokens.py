"""Token codec: tokens array<int32> <-> log-line body string.

Per BASELINE.json input_hint the pipeline input is pre-tokenized training
sequences ``(doc_id, tokens: array<int32>, n_tok, source)``.  The decode
step stands in for a real tokenizer's detokenize (the pdata ``Body`` the
stanza file_input receiver would have read, receiver/stanzareceiver/
converter.go:59).  We use a deterministic, exactly-invertible codepoint
vocabulary (token id == Unicode codepoint, vocab-bounded), so:

- decode is a buffer-level Arrow StringArray construction inside the
  parse stage's Arrow hop (``decode_arrow``), or pure Catalyst
  (``sources.tokens_source.with_body``) — no per-row Python either way,
- the DuckDB oracle can decode independently with
  ``array_to_string(list_transform(tokens, t -> chr(t)), '')``,
- the per-row invariant (token-array equality through every stage) is
  byte-checkable.

The invariant: *no operator ever rewrites ``tokens``* — parse/enrich/route
add columns; ``tokens`` flows through untouched.
"""

from __future__ import annotations

#: DuckDB-side equivalent of the decode (oracle use).  `{col}` is the
#: tokens column SQL.  DuckDB's array_to_string gives NULL for an empty
#: list, where Spark's decode gives ''; a NULL array stays NULL.
DECODE_SQL_DUCKDB = ("coalesce(array_to_string(list_transform({col}, "
                     "t -> chr(t)), ''), CASE WHEN {col} IS NOT NULL "
                     "THEN '' END)")


def encode_text(text: str) -> list[int]:
    """Driver/datagen-side encode (one-shot, not in the Spark plan)."""
    return [ord(c) for c in text]


def decode_arrow(la) -> "object":
    """Detokenize ONE Arrow ListArray(int) -> StringArray with zero
    per-row Python: the list offsets become the string offsets verbatim
    and the token values cast to a uint8 byte buffer (our vocab is the
    codepoint itself).  That buffer is valid UTF-8 only when every id is
    ASCII (0..127); any other id takes the per-row chr-join path, which
    UTF-8-encodes codepoints 128+ as multi-byte sequences."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    n = len(la)
    if n == 0:
        return pa.array([], pa.string())

    def slow(la):
        return pa.array(
            ["".join(map(chr, row)) if row is not None else None
             for row in la.to_pylist()], pa.string())

    if la.null_count:
        # null rows: the buffer path would turn them into '' — keep the
        # NULL semantics of the fallback instead (nulls are rare here)
        return slow(la)
    flat = la.flatten()
    mm = pc.min_max(flat).as_py()              # None/None when empty
    if mm["max"] is not None and (mm["min"] < 0 or mm["max"] > 127):
        return slow(la)                        # non-ASCII vocab
    u8 = flat.cast(pa.uint8())
    lens = pc.list_value_length(la).cast(pa.int64()) \
        .to_numpy(zero_copy_only=False)
    offs64 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs64[1:])
    if offs64[-1] > np.iinfo(np.int32).max:
        # int32 string offsets would silently wrap — the same bug class
        # fixed in datagen; a >2 GiB batch means maxRecordsPerBatch is
        # mis-sized, fall back to the slow-but-correct path
        return slow(la)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offs64.astype(np.int32).tobytes()),
        pa.py_buffer(u8.to_numpy(zero_copy_only=False).tobytes()))
