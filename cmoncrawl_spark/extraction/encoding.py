"""Byte-exact encoding cascade (SURVEY §2 F12).

Semantics mirrored from the reference's BaseExtractor.preprocess/encode
(/root/reference/cmoncrawl/processor/pipeline/extractor.py:93-131,
pinned by tests/processor_test.py:145-189):

1. the downloader decodes WARC bytes with the default encoding
   (latin-1, common/types.py:65-66,77) — latin-1 is byte-transparent,
   so from raw bytes the cascade is equivalent to:
2. normalize CRLF -> LF on the BYTES (the reference normalizes the
   latin-1 string then re-encodes with the same codec — identical);
3. try decodes in priority order, first success wins and is recorded:
   forced extractor encoding -> domain-record encoding -> HTTP
   Content-Type charset -> utf-8 (dict-ordered, deduped);
4. all fail -> fall back to the latin-1 view of the normalized bytes
   (encoding stays 'latin-1'), or raise when raise_on_encoding.

Pure stdlib, no per-row Spark dispatch — called from inside the Arrow
batches of the extraction UDF (extractor.py).
"""

from __future__ import annotations


def http_charset(content_type: str | None) -> str | None:
    """Charset from a Content-Type header value.

    The reference splits on the literal 'charset=' and takes the last
    piece (extractor.py:100-103).
    """
    if not content_type:
        return None
    parts = content_type.split("charset=")
    if len(parts) > 1 and parts[-1] != "":
        return parts[-1]
    return None


def decode_cascade(
    raw: bytes,
    forced_encoding: str | None = None,
    record_encoding: str | None = None,
    content_type: str | None = None,
    raise_on_encoding: bool = False,
) -> tuple[str, str]:
    """Return (decoded_text, winning_encoding).

    Deterministic and total (unless raise_on_encoding).
    """
    data = raw.replace(b"\r\n", b"\n")
    tried: dict[str, int] = {}
    if forced_encoding is not None:
        tried[forced_encoding] = 1
    if record_encoding is not None:
        tried[record_encoding] = 1
    hc = http_charset(content_type)
    if hc is not None:
        tried[hc] = 1
    tried["utf-8"] = 1

    for enc in tried:
        try:
            return data.decode(enc), enc
        except (LookupError, ValueError):
            continue

    if raise_on_encoding:
        raise ValueError("Failed to decode")
    return data.decode("latin-1"), "latin-1"
