"""One vectorised LZW decoder for TIFF and GIF.

Both formats use the same variable-width LZW. They differ in bit order
(TIFF packs codes MSB-first, GIF LSB-first), in when the code width grows
(TIFF's "early change" bumps it one code before the table fills) and in
the literal alphabet (``min_code_size``: 8 for TIFF, 0-8 for GIF). The
format rules above the code stream (TIFF's leading ClearCode, GIF's pixel
count) stay with the callers, ``tiff/reader.py`` and ``gif.py``.

The decode runs in numpy, with no per-code Python loop:

1. **Unpack.** A code's width depends only on its index since the last
   ClearCode, so bit offsets are a prefix sum over a width table and each
   code is cut from the 32-bit word at the byte holding its first bit. A
   segment runs from a ClearCode (or the stream start) to the next
   ClearCode or EOI. Segments shorter than the first width step all sit
   on one fixed-width grid, so a run of them is unpacked in one pass.
2. **Expand.** Inside a segment the table entry made by code ``j`` is the
   output of code ``j`` plus the first byte of code ``j + 1``'s output. So
   a code naming entry ``p`` outputs code ``p``'s output and then the first
   byte of code ``p + 1``'s: it is one byte longer, and every one of its
   bytes copies the byte a fixed distance earlier in the output. Lengths
   come from pointer jumping over the parent chain, and pointer jumping
   over the bytes (``ptr = ptr[ptr]``) resolves every copy to a literal.

Work is bounded before output exists: a batch's length is summed from its
code lengths before any byte of it is written, so ``max_out`` refuses an
LZW bomb without allocating its output. Batches (one long segment, or a
run of short ones) are expanded one at a time, in slices of at most
``SLICE_BYTES`` output bytes, so transient memory is the output plus index
arrays for one segment and one slice. Indices are numpy's native int64:
int32 index arrays are converted on every gather, which measured 23%
slower on 2 KB strips.

Measured on a 4-core x86 VM with numpy 1.26, interleaved against the
per-code loop this replaced (kept as tests/lzw_oracle.py): 256-px uint8
TIFF strips of 8 rows (2 KB, nearly incompressible) decode 7.4x faster
(7.4 vs 54.8 ms per 32-strip tile, medians of 15); 1 MB streams run at
23-43 MB/s, 2x (long runs, where the loop copies whole entries) to 13x
(random bytes) faster.
"""

from __future__ import annotations

from functools import lru_cache
from typing import NamedTuple

import numpy as np

MAX_WIDTH = 12  # both formats cap codes at 12 bits
TABLE_CODES = 4096  # codes per segment after which the width is constant
SLICE_BYTES = 1 << 14  # output bytes resolved per pointer-jumping pass
RUN_LOOK = 256  # codes read per probe for a run of short segments


class CodeError(ValueError):
    """A code that names no table entry. ``initial`` is true when it is the
    first code of a segment (after a ClearCode or at the stream start)."""

    def __init__(self, code: int, initial: bool):
        super().__init__(f"LZW code {code} names no table entry")
        self.code = code
        self.initial = initial


class OutputLimitError(ValueError):
    """The stream decodes to more than the caller's bound."""


class _Schedule(NamedTuple):
    """Layout of codes 0..TABLE_CODES-1 of a segment: bit offsets relative
    to its start (plus the end of the last code), widths and masks; the
    width of every later code; how many leading codes have the initial
    width, capped at RUN_LOOK (segments shorter than that are read as runs
    of short segments); and which codes end a segment (ClearCode, EOI)."""

    offs: np.ndarray
    width: np.ndarray
    mask: np.ndarray
    tail_width: int
    flat_len: int
    ends_segment: np.ndarray


@lru_cache(maxsize=None)
def _schedule(min_code_size: int, early_change: bool) -> _Schedule:
    """After code ``k`` the table holds ``first + k`` entries; the width
    grows when that count equals ``2**w - early_change``. Both formats test
    for equality, so a count already past it (GIF with ``min_code_size``
    0) never grows the width; ``flat_len`` stays RUN_LOOK there."""
    clear = 1 << min_code_size
    width = np.full(TABLE_CODES, min_code_size + 1, np.int64)
    w, flat_len = min_code_size + 1, RUN_LOOK
    while w < MAX_WIDTH:
        k = (1 << w) - int(early_change) - (clear + 2)
        if k < 0:
            break
        width[k + 1 :] += 1
        flat_len = min(flat_len, k + 1)
        w += 1
    offs = np.zeros(TABLE_CODES + 1, np.int64)
    np.cumsum(width, out=offs[1:])
    mask = (1 << width) - 1
    ends_segment = np.zeros(1 << MAX_WIDTH, bool)
    ends_segment[clear : clear + 2] = True
    for table in (offs, width, mask, ends_segment):
        table.setflags(write=False)  # shared by every caller
    return _Schedule(offs, width, mask, w, flat_len, ends_segment)


def decode(
    data: bytes,
    *,
    lsb_first: bool,
    early_change: bool,
    min_code_size: int,
    max_out: int,
    stop_at_max: bool = False,
) -> np.ndarray:
    """Decode an LZW code stream to a uint8 array.

    Decoding ends at an EOI code or at the last whole code of ``data``.
    ``max_out`` bounds the output: past it, :class:`OutputLimitError` is
    raised before the excess is materialised; or, with ``stop_at_max``,
    decoding stops after the code that reaches ``max_out`` bytes (codes
    after it are neither read nor checked, and the result may run past
    ``max_out`` by the rest of that code's output). A code naming no table
    entry raises :class:`CodeError`.
    """
    if not 0 <= min_code_size <= 8:
        raise ValueError(f"LZW minimum code size {min_code_size} is outside 0..8")
    first = (1 << min_code_size) + 2
    pieces: list[np.ndarray] = []
    produced = 0
    for codes, k in _segments(data, lsb_first, early_change, min_code_size):
        if stop_at_max and produced >= max_out:
            break
        out = _expand(codes, k, first, produced, max_out, stop_at_max)
        pieces.append(out)
        produced += len(out)
    if len(pieces) == 1:
        return pieces[0]
    return np.concatenate(pieces) if pieces else np.zeros(0, np.uint8)


def _segments(data: bytes, lsb_first: bool, early_change: bool, min_code_size: int):
    """Yield the codes of one stream, one long segment or a run of short
    ones at a time, as ``(codes, k)``: the codes without ClearCode/EOI and
    each one's index in its segment. Stops at EOI or the last whole code."""
    clear = 1 << min_code_size
    sched = _schedule(min_code_size, early_change)
    w0 = min_code_size + 1
    buf = np.frombuffer(data, np.uint8)
    order = "little" if lsb_first else "big"
    nbits = 8 * len(data)

    def read(pos, at, width, mask):
        """The codes of ``width`` bits at bit offsets ``pos + at``
        (ascending)."""
        # a code of <= 12 bits lies inside the 4 bytes from the byte that
        # holds its first bit: view them as one word per byte, copying
        # (and zero-padding) only a window that runs off the end
        at = at + (pos & 7)
        b0 = pos >> 3
        b1 = b0 + (int(at[-1]) >> 3) + 4
        src = buf[b0:b1]
        if b1 > len(buf):
            src = np.concatenate([src, np.zeros(b1 - len(buf), np.uint8)])
        word = np.ndarray(
            (b1 - b0 - 3,), "<u4" if lsb_first else ">u4", src, strides=(1,)
        ).astype(np.int64)[at >> 3]
        shift = at & 7 if lsb_first else (32 - width) - (at & 7)
        return (word >> shift) & mask

    def code_at(pos):
        """The first code of a segment starting at bit ``pos``."""
        b = pos >> 3
        v = int.from_bytes(bytes(data[b : b + 4]).ljust(4, b"\0"), order)
        shift = pos & 7 if lsb_first else 32 - w0 - (pos & 7)
        return (v >> shift) & ((1 << w0) - 1)

    pos = 0
    while True:
        # step over a leading ClearCode without numpy (a run of them is
        # read as a run of short segments below)
        if pos + w0 <= nbits and code_at(pos) == clear:
            pos += w0
        if pos + w0 > nbits or code_at(pos) == clear + 1:
            return
        # read a segment on its own width schedule
        avail = _fit(sched, nbits - pos)
        look = min(avail, TABLE_CODES)
        while True:
            at, width, mask = _layout(sched, look)
            codes = read(pos, at, width, mask)
            is_end = sched.ends_segment[codes]
            n = int(is_end.argmax())
            if is_end[n] or look == avail:
                break
            look = min(2 * look, avail)
        if not is_end[n]:  # the stream ends inside this segment
            yield codes, np.arange(look)
            return
        if n >= sched.flat_len:
            yield codes[:n], np.arange(n)
            if codes[n] != clear:
                return
            pos += int(at[n] + width[n])
            continue
        # a short segment: the codes (and terminators) of a run of segments
        # shorter than flat_len all have width w0, so they lie on one grid;
        # flat_len <= RUN_LOOK, so the first window holds this segment's end
        # (a later window without one goes back to the read above)
        while True:
            look = min((nbits - pos) // w0, RUN_LOOK)
            if not look:
                return
            codes = read(pos, w0 * np.arange(look), w0, (1 << w0) - 1)
            ends = np.flatnonzero(sched.ends_segment[codes])
            # lengths of the terminated segments, then of the trailing codes
            seg_len = np.diff(ends, prepend=-1, append=look) - 1
            long_at = np.flatnonzero(seg_len >= sched.flat_len)
            n_run = int(long_at[0]) if long_at.size else len(ends)
            if not n_run:
                break
            eoi = np.flatnonzero(codes[ends[:n_run]] != clear)
            n_run = int(eoi[0]) + 1 if eoi.size else n_run
            last = int(ends[n_run - 1])
            pos += w0 * (last + 1)
            if last >= n_run:  # the run holds codes, not only terminators
                is_end = np.zeros(last, bool)
                is_end[ends[: n_run - 1]] = True
                idx = np.arange(last)
                k = idx - np.maximum.accumulate(np.where(is_end, idx + 1, 0))
                yield codes[:last][~is_end], k[~is_end]
            if eoi.size:
                return
            if long_at.size:
                break


def _layout(sched: _Schedule, n: int):
    """Bit offsets (relative to the segment start), widths and masks of
    codes 0..n-1 of a segment."""
    if n <= TABLE_CODES:
        return sched.offs[:n], sched.width[:n], sched.mask[:n]
    w, extra = sched.tail_width, n - TABLE_CODES
    tail_at = sched.offs[-1] + w * np.arange(extra, dtype=np.int64)
    return (
        np.concatenate([sched.offs[:-1], tail_at]),
        np.concatenate([sched.width, np.full(extra, w)]),
        np.concatenate([sched.mask, np.full(extra, (1 << w) - 1)]),
    )


def _fit(sched: _Schedule, bits: int) -> int:
    """How many whole codes of a segment fit in ``bits`` bits."""
    offs = sched.offs
    if bits >= offs[-1]:
        return TABLE_CODES + (bits - int(offs[-1])) // sched.tail_width
    return int(np.searchsorted(offs, bits, side="right")) - 1


def _expand(codes, k, first, produced, max_out, stop_at_max):
    """Output of ``codes`` (no ClearCode/EOI among them); ``k`` is each
    code's index in its segment and ``produced`` bytes precede them."""
    # code c at index k of a segment names the entry made by the segment's
    # code c - first: ``rel`` codes back, and only an earlier one is valid
    rel = codes - first - k
    n = int(np.argmax(rel >= 0)) if rel.max() >= 0 else len(codes)
    is_ref = codes[:n] >= first
    idx = np.arange(n)
    # the code after the parent starts with the parent's entry's last byte;
    # a literal stands for itself
    after = np.where(is_ref, idx + rel[:n] + 1, idx)
    parent = after - is_ref
    del idx, rel
    # output lengths by pointer jumping over the parent chain
    lens = is_ref.astype(np.int64)  # distance to root[i], then + 1
    root = parent
    while True:
        up = lens[root]
        if not up.any():
            break
        lens += up
        root = root[root]
    del up, root, parent
    lens += 1
    ends = np.cumsum(lens)
    bad = n < len(codes)
    if stop_at_max:
        cut = int(np.searchsorted(ends, max_out - produced))
        if cut < n:  # code ``cut`` reaches max_out: the rest is never read
            n, bad = cut + 1, False
    elif n and produced + int(ends[-1]) > max_out:
        raise OutputLimitError(f"LZW output exceeds {max_out} bytes")
    if bad:
        raise CodeError(int(codes[n]), initial=bool(k[n] == 0))
    codes, lens, ends, after = codes[:n], lens[:n], ends[:n], after[:n]
    # byte i < len - 1 of a code copies byte i of its parent's output, and
    # its last byte copies the first byte of the code after the parent, so
    # every byte of a code copies the byte ``back`` positions earlier
    # (a literal: itself)
    starts = ends - lens
    back = ends - 1 - starts[after]
    del after
    out = np.empty(int(ends[-1]), np.uint8)
    lo = 0
    while lo < n:
        s0 = int(starts[lo])
        hi = max(lo + 1, int(np.searchsorted(ends, s0 + SLICE_BYTES, "right")))
        _resolve(out, s0, codes[lo:hi], back[lo:hi], lens[lo:hi], starts[lo:hi] - s0)
        lo = hi
    return out


def _resolve(out, s0, codes, back, lens, starts):
    """Fill ``out`` from ``s0`` with the output of ``codes`` (whole codes;
    ``starts`` relative to ``s0``)."""
    view = out[s0 : s0 + int(starts[-1] + lens[-1])]
    ptr = np.arange(len(view)) - np.repeat(back, lens)
    view[starts] = codes  # a literal's byte; a longer code's is overwritten
    if s0:  # copies of bytes before the slice are resolved already
        outside = np.flatnonzero(ptr < 0)
        view[outside] = out[s0 + ptr[outside]]
        ptr[outside] = outside
    # a chain runs down the parents at one offset, jumps to the code after
    # a parent, then down its parents at offset 0: under 2 * longest steps
    steps = 2 * int(lens.max()) - 2
    while steps > 0:
        ptr = ptr[ptr]
        steps >>= 1
    view[:] = view[ptr]
