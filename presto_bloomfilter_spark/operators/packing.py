"""Sequence packing: turn variable-length tokenized documents into
fixed-length training sequences.

``pack_concat_chunks`` is the GPT-style concat-and-chunk packer — the
standard pretraining shape: within each partition, documents are
concatenated (optionally separated by an EOS token) into one logical
token stream and sliced into exactly-``seq_len`` sequences.  Documents
may straddle sequence boundaries (that is the point: zero padding, 100%
utilization); the only non-full sequence is the one per-partition
remainder tail.

Scale posture (the 100 TB question):

- **map-only**: packing is mapInArrow over the scan — no shuffle, no
  driver involvement; each task packs its own split and emits packed
  batches.  At 10^12 sequences the job is exactly one pass over the
  table.
- **vectorized**: the kernel is numpy on Arrow buffers — flatten the
  list column once, place EOS separators with one scatter, reshape into
  (n_full, seq_len).  No per-document Python, no per-token Python.
- **bounded state**: the only carry between Arrow batches is the
  < ``seq_len`` remainder tail of the partition's stream.

Invariants (asserted by the ``pack_sequences`` gate and
tests/test_packing.py):

- token conservation: sum of output ``n_tok`` == sum of input ``n_tok``
  (+ one EOS per document when ``eos_id`` is set, unless
  ``drop_remainder`` discards the tails);
- every sequence has ``n_tok == seq_len`` except at most one remainder
  per partition, so n_sequences ∈ [ceil(T/L), floor(T/L) + P].

Reference scope note: the reference library has no packer — this is a
training-pipeline operator the north star's token tables need; it sits
beside the sketch builds as a consumer of the same pre-tokenized input
(BASELINE.json input_hint schema).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F


def _batch_tokens(batch: pa.RecordBatch, name: str) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, per-doc lengths) of an array<int> column."""
    col = batch.column(batch.schema.get_field_index(name))
    if col.null_count:
        # a NULL list is not an empty document — value_lengths() yields
        # null there, and a silent NaN->int64 cast would turn it into a
        # garbage length that corrupts the EOS scatter / conservation
        # accounting; make the caller decide (filter isNotNull upstream)
        raise ValueError(
            f"pack_concat_chunks: {col.null_count} NULL row(s) in "
            f"'{name}'; filter them out (or fill with array()) before "
            f"packing — a null document has no defined token stream"
        )
    # flatten() yields exactly the logical values (it honors any slice
    # offset), so pair it with value_lengths(), never raw .offsets
    values = col.flatten()
    if values.null_count:
        # same silent-corruption trap one level down: a NULL ELEMENT
        # inside a list escapes the row-level null_count above, and
        # to_numpy would hand back NaN that a later int cast turns
        # into INT32_MIN inside a training sequence
        raise ValueError(
            f"pack_concat_chunks: {values.null_count} NULL token "
            f"element(s) inside '{name}' arrays; clean them before "
            f"packing — a null token has no id"
        )
    flat = values.to_numpy(zero_copy_only=False)
    if flat.dtype.kind == "i" and flat.dtype.itemsize > 4 and len(flat):
        # array<bigint> input: the eventual int32 cast would silently
        # WRAP out-of-range ids, corrupting packed training sequences —
        # fail loud instead, matching the NULL checks above
        mn, mx = int(flat.min()), int(flat.max())
        if mn < np.iinfo(np.int32).min or mx > np.iinfo(np.int32).max:
            raise ValueError(
                f"pack_concat_chunks: token id outside int32 range in "
                f"'{name}' (saw {mn}..{mx}); packed sequences are "
                f"array<int32> — remap ids before packing"
            )
    lens = col.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
    return flat, lens


def _append_eos(flat: np.ndarray, lens: np.ndarray, eos_id: int) -> np.ndarray:
    """One EOS token after each document, in one vectorized scatter."""
    n = len(lens)
    out = np.full(len(flat) + n, eos_id, dtype=flat.dtype)
    # token j of the stream shifts right by the number of documents
    # that ended before it
    shift = np.repeat(np.arange(n, dtype=np.int64), lens)
    out[np.arange(len(flat), dtype=np.int64) + shift] = flat
    return out


def _emit(buf: np.ndarray, seq_len: int) -> tuple[pa.RecordBatch | None, np.ndarray]:
    """Slice full sequences off the stream; return (batch, remainder)."""
    n_full = len(buf) // seq_len
    if n_full == 0:
        return None, buf
    full = buf[: n_full * seq_len]
    rest = buf[n_full * seq_len:].copy()
    values = pa.array(full.astype(np.int32), type=pa.int32())
    offsets = pa.array(
        np.arange(0, (n_full + 1) * seq_len, seq_len, dtype=np.int32), type=pa.int32()
    )
    tokens = pa.ListArray.from_arrays(offsets, values)
    n_tok = pa.array(np.full(n_full, seq_len, dtype=np.int32), type=pa.int32())
    return pa.RecordBatch.from_arrays([tokens, n_tok], ["tokens", "n_tok"]), rest


def _tail_batch(buf: np.ndarray) -> pa.RecordBatch:
    values = pa.array(buf.astype(np.int32), type=pa.int32())
    offsets = pa.array(np.array([0, len(buf)], dtype=np.int32), type=pa.int32())
    tokens = pa.ListArray.from_arrays(offsets, values)
    n_tok = pa.array(np.array([len(buf)], dtype=np.int32), type=pa.int32())
    return pa.RecordBatch.from_arrays([tokens, n_tok], ["tokens", "n_tok"])


def pack_concat_chunks(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "tokens",
    eos_id: int | None = None,
    drop_remainder: bool = False,
) -> DataFrame:
    """Pack ``array<int>`` documents into fixed-``seq_len`` training
    sequences by per-partition concat-and-chunk.

    Returns ``DataFrame[tokens array<int>, n_tok int]``.  All sequences
    have ``n_tok == seq_len`` except the one remainder tail per input
    partition (omitted entirely when ``drop_remainder``).  When
    ``eos_id`` is given, one separator token is appended after every
    document before chunking, so downstream loss masking can recover
    document boundaries.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    pruned = df.select(tokens_col)

    def pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry = np.empty(0, dtype=np.int32)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            flat, lens = _batch_tokens(batch, tokens_col)
            if eos_id is not None:
                flat = _append_eos(flat, lens, eos_id)
            buf = np.concatenate([carry, flat]) if len(carry) else flat
            out, carry = _emit(buf, seq_len)
            if out is not None:
                yield out
        if len(carry) and not drop_remainder:
            yield _tail_batch(carry)

    return pruned.mapInArrow(pack, "tokens array<int>, n_tok int")
