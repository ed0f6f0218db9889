"""The one corrupt-input boundary of the media parsers.

A truncated or corrupt stream can reach a crash class (``struct.error`` from
a short unpack, ``IndexError`` past the end of a buffer, ``KeyError`` on a
missing tag, a numpy ``ValueError``, an ``OverflowError`` from a JPEG DC
predictor walked past int64...) before any of a parser's own length or
contract checks fires. Every public parse and decode surface that can reach
one — of TIFF, JPEG, PNG and GIF, and the WAV, MP4 and WebP parsers of
``operators/multimodal.py`` — is wrapped by :func:`typed`, which turns those
classes into the codec's own error class, so one bad object becomes one
``status='error'`` row and never a failed task (the reference's error
channel, src/python/adapters.rs:147-162). Every codec error subclasses
``ValueError``, the one class the operators catch. Any other exception is a
programming error and propagates.
"""

from __future__ import annotations

import functools
import struct
import zlib

# what corrupt input raises before a parser can classify it
CRASH_CLASSES = (
    struct.error, ValueError, IndexError, KeyError, ZeroDivisionError,
    OverflowError, zlib.error,
)


def typed(error_cls: type[ValueError], prefix: str):
    """Decorator: ``error_cls`` raised inside passes unchanged; a crash class
    becomes ``error_cls(f"{prefix}: truncated or corrupt (<class>: <text>)")``
    chained to the original."""

    def wrap(fn):
        @functools.wraps(fn)
        def boundary(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except error_cls:
                raise
            except CRASH_CLASSES as exc:
                raise error_cls(
                    f"{prefix}: truncated or corrupt ({type(exc).__name__}: {exc})"
                ) from exc

        return boundary

    return wrap
