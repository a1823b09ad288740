"""WARC sources (SURVEY §2 S5/S6) — pure-Python WARC parsing.

The reference uses warcio's ArchiveIterator
(/root/reference/cmoncrawl/processor/pipeline/downloader.py:124-240).
warcio is not in this container, so the engine ships a minimal
deterministic WARC/1.0-1.1 reader supporting:

- plain and gzip (multi-member or whole-file) archives;
- header parsing (WARC-Target-URI, WARC-Date, WARC-Type,
  Content-Length, ...);
- record payloads split from HTTP response headers when the block is
  ``application/http``.

``BASELINE.json``'s input already carries html as a column, so this
reader exists for reference parity: ``q_warc_roundtrip`` serializes
pages with :func:`write_warc_bytes` and parses them back with
:func:`parse_warc_bytes` inside one Arrow stage, and the CLI's
``--dao_base`` paths read each fetched range's page and HTTP
``Content-Type`` with :func:`response_of`.
"""

from __future__ import annotations

import gzip
import io
import zlib


def _maybe_decompress(data: bytes) -> bytes:
    if data[:2] == b"\x1f\x8b":
        # gzip.decompress handles concatenated members (the per-record
        # gzip layout Common Crawl uses) in one pass.
        return gzip.decompress(data)
    return data


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Parse one WARC archive's bytes into record dicts."""
    data = _maybe_decompress(data)
    records = []
    pos = 0
    idx = 0
    n = len(data)
    while pos < n:
        # skip record separators
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data[pos:].startswith(b"WARC/"):
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        head = data[pos + data[pos:].find(b"\r\n") + 2 : head_end]
        headers: dict[str, str] = {}
        for line in head.split(b"\r\n"):
            if b":" in line:
                k, _, v = line.partition(b":")
                headers[k.decode("latin-1").strip()] = v.decode(
                    "latin-1"
                ).strip()
        length = int(headers.get("Content-Length", "0"))
        block = data[head_end + 4 : head_end + 4 + length]
        http_header: dict[str, str] = {}
        content = block
        ctype = headers.get("Content-Type", "")
        if ctype.startswith("application/http") and b"\r\n\r\n" in block:
            hh, _, content = block.partition(b"\r\n\r\n")
            lines = hh.split(b"\r\n")
            if lines and lines[0][:5] in (b"HTTP/",):
                parts = lines[0].split(b" ")
                if len(parts) > 1:
                    http_header["http_response_code"] = parts[1].decode(
                        "latin-1"
                    )
            for line in lines[1:]:
                if b":" in line:
                    k, _, v = line.partition(b":")
                    http_header[k.decode("latin-1").strip()] = v.decode(
                        "latin-1"
                    ).strip()
        records.append(
            {
                "record_idx": idx,
                "rec_type": headers.get("WARC-Type", ""),
                "url": headers.get("WARC-Target-URI"),
                "warc_date": headers.get("WARC-Date"),
                "warc_header": headers,
                "http_header": http_header,
                "content": content,
            }
        )
        idx += 1
        pos = head_end + 4 + length
    return records


def response_of(data: bytes, where: str) -> tuple[bytes, str | None]:
    """The payload of the WARC ``response`` record in ``data`` (one
    index row's byte range, plain or gzipped, as the reference's
    downloader reads it with warcio, downloader.py:124-240) and its
    HTTP ``Content-Type``, matched case-insensitively (None when the
    header is absent). A range that holds no response record raises
    ``ValueError`` naming ``where``."""
    try:
        records = parse_warc_bytes(data)
    except (OSError, EOFError, zlib.error) as e:  # a corrupt gzip member
        raise ValueError(f"no WARC record in {where}: {e}") from e
    for rec in records:
        if rec["rec_type"] == "response":
            ctype = next(
                (v for k, v in rec["http_header"].items() if k.lower() == "content-type"),
                None,
            )
            return rec["content"], ctype
    raise ValueError(f"no WARC response record in {where}")


def write_warc_bytes(records: list[dict]) -> bytes:
    """Serialize records to WARC/1.0 (test fixture generator)."""
    out = io.BytesIO()
    for rec in records:
        content = rec.get("content", b"")
        http = rec.get("http_header")
        if http is not None:
            status = http.get("http_response_code", "200")
            hh = f"HTTP/1.1 {status} OK\r\n" + "".join(
                f"{k}: {v}\r\n"
                for k, v in http.items()
                if k != "http_response_code"
            )
            content = hh.encode("latin-1") + b"\r\n" + content
            ctype = "application/http; msgtype=response"
        else:
            ctype = rec.get("content_type", "application/octet-stream")
        head = {
            "WARC-Type": rec.get("rec_type", "response"),
            "WARC-Target-URI": rec.get("url", ""),
            "WARC-Date": rec.get("warc_date", "2023-01-01T00:00:00Z"),
            "Content-Type": ctype,
            "Content-Length": str(len(content)),
        }
        out.write(b"WARC/1.0\r\n")
        for k, v in head.items():
            out.write(f"{k}: {v}\r\n".encode("latin-1"))
        out.write(b"\r\n")
        out.write(content)
        out.write(b"\r\n\r\n")
    return out.getvalue()
