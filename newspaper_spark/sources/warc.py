"""WARC (Web ARChive, ISO 28500) source: in-plan record assembly +
a REAL Content-Length-walking record parser.

Common Crawl — the input corpus of essentially every web-scale LLM
pipeline (C4, CCNet, RefinedWeb, Gopher/MassiveText, DCLM) — ships as
WARC files: a flat concatenation of records, each a version line
(``WARC/1.0``), CRLF-separated named headers, a blank line, exactly
``Content-Length`` octets of block, and a CRLF CRLF separator. For
``response`` records the block is itself a full HTTP/1.1 response
(status line + headers + blank + body). The reference engine
(newspaper3k) starts from fetched HTML and has no archive-reader
analog; this is a beyond-reference source operator in the spirit of
the multimodal decoder family (multimodal.py): REAL pure-stdlib
parsing of a binary container behind one ``batch.flat_map`` stage
(Arrow-batched ``mapInPandas``), fed by deterministically
Column-assembled payloads so the expected output is relationally
reconstructable by the DuckDB oracle.

Correctness notes (what makes this a real WARC reader, not a split):
  * the record walk is driven by ``Content-Length`` octet counts —
    NEVER by searching for a separator — so payloads containing
    ``\\r\\n\\r\\nWARC/1.0`` (a delimiter bomb for naive splitters)
    parse correctly; a unit test pins this;
  * header names are case-insensitive; obs-fold continuation lines
    (leading SP/HT) are unfolded per RFC 7230 §3.2.4;
  * a framing fault (bad version line, truncated block, malformed
    Content-Length, missing terminator) emits ONE error row carrying
    the failure and stops the file — after a framing fault the octet
    stream is desynchronized and anything further would be invented
    (warcio's strict behavior); records before the fault are kept.

Scale shape: map-only binary batches (one row per WARC file →
records), zero shuffles; at 100 TB the files are the INPUT (this
module's assembly half is test scaffolding, exactly like
jpeg_dc_gray_payload_col) and the parse stage distributes perfectly
because files are independent.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.batch import flat_map

__all__ = [
    "warc_response_record_col",
    "warcinfo_record_col",
    "WARCINFO_FIELDS",
    "parse_warc_files",
    "read_record_at",
]

CRLF = "\r\n"
WARCINFO_FIELDS = "software: spark-newsprint\r\nformat: WARC File Format 1.0\r\n"


def warc_response_record_col(
    uri: Column, date: Column, record_id: Column, body: Column
) -> Column:
    """One WARC ``response`` record (version line → headers → HTTP/1.1
    200 block → CRLF CRLF), as a string Column. ``Content-Length``
    values are OCTET counts (multibyte-safe via octet_length)."""
    http_head = F.concat(
        F.lit(
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: text/html; charset=utf-8\r\n"
            "Content-Length: "
        ),
        F.octet_length(body).cast("string"),
        F.lit(CRLF + CRLF),
    )
    block = F.concat(http_head, body)
    return F.concat(
        F.lit("WARC/1.0" + CRLF + "WARC-Type: response" + CRLF),
        F.lit("WARC-Record-ID: "),
        record_id,
        F.lit(CRLF + "WARC-Date: "),
        date,
        F.lit(CRLF + "WARC-Target-URI: "),
        uri,
        F.lit(CRLF + "Content-Type: application/http;msgtype=response" + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(block).cast("string"),
        F.lit(CRLF + CRLF),
        block,
        F.lit(CRLF + CRLF),
    )


def warcinfo_record_col(record_id: Column, date: Column) -> Column:
    """The file-leading ``warcinfo`` record (fixed warc-fields body)."""
    return F.concat(
        F.lit("WARC/1.0" + CRLF + "WARC-Type: warcinfo" + CRLF),
        F.lit("WARC-Record-ID: "),
        record_id,
        F.lit(CRLF + "WARC-Date: "),
        date,
        F.lit(CRLF + "Content-Type: application/warc-fields" + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(F.lit(WARCINFO_FIELDS)).cast("string"),
        F.lit(CRLF + CRLF + WARCINFO_FIELDS + CRLF + CRLF),
    )


def _parse_headers(data: bytes, pos: int):
    """RFC 7230-style header block starting at ``pos``: returns
    (dict[lower-name → unfolded value], position after the blank
    line). Raises ValueError on a malformed line or missing blank.

    Repeated header names are LAST-WINS (the dict keeps only the final
    value). WARC 1.0 allows repeats for some fields (notably
    WARC-Concurrent-To, ISO 28500 §5.7) — none of the fields currently
    surfaced by warc_records can legally repeat, but any future column
    sourced from a repeatable field must first switch this parser to
    collecting lists (ADVICE r6)."""
    headers: dict[str, str] = {}
    last = None
    while True:
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("unterminated header block")
        line = data[pos:eol]
        pos = eol + 2
        if line == b"":
            return headers, pos
        if line[:1] in (b" ", b"\t"):  # obs-fold continuation
            if last is None:
                raise ValueError("continuation line before any header")
            headers[last] += " " + line.strip().decode("utf-8", "replace")
            continue
        name, sep, val = line.partition(b":")
        if not sep or not name.strip():
            raise ValueError(f"malformed header line: {line[:40]!r}")
        last = name.strip().decode("ascii", "replace").lower()
        headers[last] = val.strip().decode("utf-8", "replace")


def _parse_warc_bytes(data: bytes):
    """Yield per-record dicts for one WARC file; on a framing fault,
    yield one error dict and stop (stream desync — see module doc).

    Each record carries its byte ``offset`` and total ``record_bytes``
    (version line through the trailing CRLF CRLF) — the (offset,
    length) pair a CDX-style index stores so a consumer can range-read
    one record without scanning the file."""
    pos, idx = 0, 0
    while True:
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= len(data):
            return
        start = pos
        try:
            eol = data.find(b"\r\n", pos)
            if eol < 0 or not data[pos:eol].startswith(b"WARC/"):
                raise ValueError(
                    f"expected WARC version line at offset {pos}"
                )
            headers, body_pos = _parse_headers(data, eol + 2)
            if "content-length" not in headers:
                raise ValueError("record missing Content-Length")
            cl = headers["content-length"]
            if not cl.isdigit():
                raise ValueError(f"malformed Content-Length: {cl!r}")
            cl = int(cl)
            block = data[body_pos : body_pos + cl]
            if len(block) != cl:
                raise ValueError(
                    f"truncated block: expected {cl} octets, "
                    f"got {len(block)}"
                )
            end = body_pos + cl
            if data[end : end + 4] != b"\r\n\r\n":
                raise ValueError("record not terminated by CRLF CRLF")
            rec = {
                "rec_idx": idx,
                "offset": start,
                "record_bytes": end + 4 - start,
                "warc_type": headers.get("warc-type"),
                "record_id": headers.get("warc-record-id"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_length": cl,
                "http_status": None,
                "http_content_type": None,
                "payload_text": None,
                "error": None,
            }
            ctype = headers.get("content-type", "")
            if ctype.replace(" ", "").startswith("application/http"):
                split = block.find(b"\r\n\r\n")
                if split < 0:
                    raise ValueError("HTTP block missing head/body split")
                head, body = block[:split], block[split + 4 :]
                status_eol = head.find(b"\r\n")
                status_line = head if status_eol < 0 else head[:status_eol]
                parts = status_line.split(None, 2)
                if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
                    raise ValueError(
                        f"malformed HTTP status line: {status_line[:40]!r}"
                    )
                hh, _ = _parse_headers(
                    head + b"\r\n\r\n", 0 if status_eol < 0 else status_eol + 2
                )
                rec["http_status"] = int(parts[1])
                rec["http_content_type"] = hh.get("content-type")
                rec["payload_text"] = body.decode("utf-8", "replace")
            else:
                rec["payload_text"] = block.decode("utf-8", "replace")
            yield rec
            pos, idx = end + 4, idx + 1
        except (ValueError, UnicodeDecodeError) as e:
            yield {
                "rec_idx": idx,
                "offset": start,
                "record_bytes": None,
                "warc_type": None,
                "record_id": None,
                "target_uri": None,
                "warc_date": None,
                "content_length": None,
                "http_status": None,
                "http_content_type": None,
                "payload_text": None,
                "error": f"{type(e).__name__}: {e}",
            }
            return


def read_record_at(data: bytes, offset: int, length: int) -> dict:
    """Range-read ONE record from a WARC file given the (offset,
    length) pair a CDX-style index stores — the consumer side of the
    ``offset``/``record_bytes`` columns parse_warc_files emits. The
    slice is parsed by the same Content-Length walk; exactly one
    record (or one error dict) comes back."""
    recs = list(_parse_warc_bytes(bytes(data[offset : offset + length])))
    if len(recs) != 1:
        raise ValueError(
            f"range ({offset}, {length}) holds {len(recs)} records, not 1"
        )
    return recs[0]


_WARC_OUTPUTS = [
    "rec_idx", "offset", "record_bytes", "warc_type", "record_id",
    "target_uri", "warc_date", "content_length", "http_status",
    "http_content_type", "payload_text", "error",
]

_WARC_SCHEMA = (
    "file_id long, rec_idx int, offset long, record_bytes long, "
    "warc_type string, record_id string, "
    "target_uri string, warc_date string, content_length long, "
    "http_status int, http_content_type string, payload_text string, "
    "error string"
)


def _warc_rows(payload):
    if isinstance(payload, str):
        payload = payload.encode("utf-8")
    recs = _parse_warc_bytes(bytes(payload or b""))
    return [tuple(rec[c] for c in _WARC_OUTPUTS) for rec in recs]


def parse_warc_files(
    files: DataFrame, id_col: str = "file_id", content_col: str = "warc"
) -> DataFrame:
    """``(file_id, warc bytes|str)`` → one row per parsed record.

    One map-only ``batch.flat_map`` stage; per-file fault tolerance via
    the error column (framing faults stop that file only). The id
    column comes out named ``file_id`` whatever ``id_col`` is.
    """
    return flat_map(
        files.select(F.col(id_col).alias("file_id"), content_col),
        ["file_id"], content_col, _warc_rows, _WARC_OUTPUTS, _WARC_SCHEMA,
    )
