"""Seeded transcript generator owned by the benchmark.

The engine's ``synth_distributed`` draws Zipf lengths from the seed, so
the seed resizes the workload (2.7x between two seeds at 10,000
conversations). Here the *shape* is fixed by the size alone and the seed
only permutes it and drives content:

* conversation lengths follow one Zipf(1.7) profile drawn from a fixed
  generator, trimmed so the total turn count is exact; the seed permutes
  which conversation gets which length;
* conversation 0 is the long one (salting when it exceeds the engine's
  65,536-turn salt), and its turn 3 is a >64 KiB text;
* roles, tools, word-salad text over the engine's vocabulary, empty and
  null texts, emoji, null roles and null timestamps keep the F1 mix.

Text is assembled from byte buffers with numpy, about 50x faster than
joining words per turn. Generated inputs are cached as parquet under a
directory keyed by (tag, turns, seed), so generation is never timed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "the a spark query plan table scan filter join aggregate shuffle "
    "partition encode decode column row batch stream window sort merge "
    "hash key value data frame codec dictionary run length symbol text "
    "please could you help me with this thanks sure here is the result "
    "error retry timeout token model agent tool call response output"
).split()
TOOLS = ["bash", "search", "browser", "editor", "python", "sql"]
EPOCH_2024_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
#: one conversation starts every minute, so time slices select by start
CONV_START_STEP_US = 60_000_000
#: rows per generated piece; bounds generator memory (~100 MB per piece)
PIECE_ROWS = 65_536
SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)

_VOCAB_SP = [w.encode() + b" " for w in VOCAB]
_VOCAB_BYTES = np.frombuffer(b"".join(_VOCAB_SP), dtype=np.uint8)
_VOCAB_LEN = np.array([len(w) for w in _VOCAB_SP], dtype=np.int64)
_VOCAB_OFF = np.concatenate([[0], np.cumsum(_VOCAB_LEN)[:-1]])


def conv_lengths(n_turns: int, long_turns: int) -> np.ndarray:
    """Seed-independent length profile summing to exactly ``n_turns``:
    one long conversation, then Zipf(1.7)+2 lengths capped at 2,000."""
    if n_turns < long_turns + 3:
        raise ValueError(f"n_turns={n_turns} leaves no room beside a {long_turns}-turn conversation")
    rng = np.random.default_rng(20_240_101)
    rest = n_turns - long_turns
    draws = np.minimum(rng.zipf(1.7, rest // 3 + 16) + 2, 2_000)
    while draws.sum() < rest:
        draws = np.concatenate([draws, np.minimum(rng.zipf(1.7, rest // 3 + 16) + 2, 2_000)])
    cut = int(np.searchsorted(np.cumsum(draws), rest))
    lengths = draws[: cut + 1].astype(np.int64)
    lengths[-1] -= int(lengths.sum()) - rest
    if lengths[-1] < 1:
        lengths = lengths[:-1]
        lengths[-1] += rest - int(lengths.sum())
    return np.concatenate([[long_turns], lengths])


def _texts(rng: np.random.Generator, n: int) -> pa.Array:
    """n word-salad strings (3..39 words), built from byte buffers."""
    n_words = rng.integers(3, 40, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    wlen = _VOCAB_LEN[words]
    woff = np.concatenate([[0], np.cumsum(wlen)])
    total = int(woff[-1])
    src = np.arange(total, dtype=np.int64) + np.repeat(_VOCAB_OFF[words] - woff[:-1], wlen)
    buf = _VOCAB_BYTES[src]
    first_word = np.concatenate([[0], np.cumsum(n_words)])
    # drop each turn's trailing space; turn t then starts t bytes earlier
    ends = woff[first_word[1:]] - 1
    keep = np.ones(total, dtype=bool)
    keep[ends] = False
    offsets = woff[first_word] - np.arange(n + 1)
    data = buf[keep]
    return pa.LargeStringArray.from_buffers(
        n, pa.py_buffer(offsets.astype(np.int64)), pa.py_buffer(data.tobytes())
    ).cast(pa.string())


def _piece(rng: np.random.Generator, conv_ids, conv_nums, lengths, long_conv: int) -> pa.Table:
    """Turns of the given conversations, in conversation order."""
    n = int(lengths.sum())
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    turn_idx = (np.arange(n) - np.repeat(starts, lengths)).astype(np.int32)

    roles = np.where(turn_idx % 2 == 1, 1, 0)  # user=0, assistant=1
    roles[turn_idx == 0] = 2  # system
    roles[rng.random(n) < 0.12] = 3  # tool
    role_arr = pa.DictionaryArray.from_arrays(
        pa.array(roles, pa.int8(), mask=rng.random(n) < 0.001),
        pa.array(["user", "assistant", "system", "tool"]),
    ).cast(pa.string())

    tool_arr = pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(TOOLS), n), pa.int8(), mask=rng.random(n) >= 0.15),
        pa.array(TOOLS),
    ).cast(pa.string())

    text = _texts(rng, n)
    text = pc.if_else(pa.array(rng.random(n) < 0.01), "", text)
    emoji = pa.array(rng.random(n) < 0.02)
    with_emoji = pc.if_else(
        pc.equal(text, ""), "🎉", pc.binary_join_element_wise(text, " héllo 🎉 ünïcode ✓", "")
    )
    text = pc.if_else(emoji, with_emoji, text)
    text = pc.if_else(pa.array(rng.random(n) < 0.01), pa.scalar(None, pa.string()), text)
    pos = np.flatnonzero((np.repeat(conv_nums, lengths) == long_conv) & (turn_idx == 3))
    if pos.size:
        text = text.to_numpy(zero_copy_only=False)
        text[pos[0]] = "long " * 16_000  # > 64 KiB turn
        text = pa.array(text, pa.string())

    start = EPOCH_2024_US + np.repeat(conv_nums, lengths) * CONV_START_STEP_US
    deltas = 2_000_000 + rng.integers(-500_000, 500_000, n)
    conv_cum = np.cumsum(deltas) - np.repeat(np.cumsum(deltas)[starts] - deltas[starts], lengths)
    ts = pa.array(start + conv_cum, pa.timestamp("us", tz="UTC"), mask=rng.random(n) < 0.001)

    return pa.table(
        [
            pa.array(np.repeat(conv_ids, lengths), pa.string()),
            pa.array(turn_idx, pa.int32()),
            role_arr,
            text,
            tool_arr,
            ts,
        ],
        schema=SCHEMA,
    )


def write_transcripts(
    path: str,
    n_turns: int,
    seed: int,
    long_turns: int,
    prefix: str,
    first_conv: int = 0,
    conv_stride: int = 1,
) -> None:
    """Write ``n_turns`` turns to a parquet directory at ``path``.

    Conversation ``i`` is numbered ``first_conv + i * conv_stride`` and
    starts ``CONV_START_STEP_US`` after the previous number, so several
    batches of one workload can carry disjoint conversations that either
    follow each other in time (stride 1) or interleave (stride = batch
    count). The directory appears only once complete."""
    lengths = conv_lengths(n_turns, long_turns)
    rng = np.random.default_rng([seed, first_conv, n_turns])
    order = np.concatenate([[0], 1 + rng.permutation(len(lengths) - 1)])
    lengths = lengths[order]
    conv_nums = first_conv + conv_stride * np.arange(len(lengths))
    conv_ids = np.array(
        [f"{prefix}{int(x):016x}" for x in rng.integers(0, 2**62, len(lengths))], dtype=object
    )
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # split into ~PIECE_ROWS pieces on conversation boundaries
    cum = np.cumsum(lengths)
    cuts = np.unique(np.searchsorted(cum, np.arange(PIECE_ROWS, n_turns, PIECE_ROWS)) + 1)
    bounds = [0, *[int(c) for c in cuts if c < len(lengths)], len(lengths)]
    for k, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        tbl = _piece(rng, conv_ids[a:b], conv_nums[a:b], lengths[a:b], first_conv)
        pq.write_table(tbl, os.path.join(tmp, f"part-{k:05d}.parquet"), compression="snappy")
    os.replace(tmp, path)
