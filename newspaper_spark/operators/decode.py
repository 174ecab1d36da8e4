"""Charset decoding for binary HTML payloads.

The transcripts input carries decoded strings (input_hint), but raw
crawl tables carry bytes; this is the UnicodeDammit stage
(parsers.py:46-57) re-expressed without bs4/chardet: BOM sniff →
declared charset (meta/xml decl) → utf-8 strict → statistical detector
over the top legacy encodings (shift_jis / euc_jp / gbk / big5 /
euc_kr / cp1252: trial-decode, then score how well the decoded
codepoints match each encoding's expected script mix) → cp1252-replace
as the never-fails floor. Vectorized over Arrow batches.
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .batch import row_udf

_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)"""
    rb"""|<\?xml[^>]+encoding\s*=\s*["']([a-zA-Z0-9_\-]+)""",
    re.IGNORECASE,
)

_BOMS = [
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
]


# statistical fallback: candidate legacy encodings, scored on the
# script mix of their NON-ASCII decode output (ASCII tags dominate HTML
# and carry no signal). Families share ranges deliberately — the goal
# is "undeclared Shift-JIS page stops decoding as mojibake", not a
# perfect zh-TW/zh-CN split.
_DETECT_CANDIDATES = ("shift_jis", "euc_jp", "gbk", "big5", "euc_kr", "cp1252")

_EXPECTED_RANGES = {
    # (lo, hi) inclusive codepoint ranges that look RIGHT per encoding
    "shift_jis": ((0x3000, 0x30FF), (0x4E00, 0x9FFF), (0xFF00, 0xFFEF)),
    "euc_jp": ((0x3000, 0x30FF), (0x4E00, 0x9FFF), (0xFF00, 0xFFEF)),
    "gbk": ((0x3000, 0x30FF), (0x4E00, 0x9FFF), (0xFF00, 0xFFEF)),
    "big5": ((0x3000, 0x303F), (0x4E00, 0x9FFF), (0xFF00, 0xFFEF)),
    "euc_kr": ((0x1100, 0x11FF), (0x3130, 0x318F), (0x3000, 0x303F),
               (0x4E00, 0x9FFF), (0xAC00, 0xD7AF)),
    "cp1252": ((0x00A0, 0x024F), (0x2013, 0x2026), (0x20AC, 0x20AC)),
}


# the EUC-KR / GB2312 two-byte grids overlap almost entirely, so range
# checks alone can't split them (Korean bytes decode to VALID hanzi
# under gbk and vice versa). Tiny per-language frequency tables break
# the tie: a correct decode hits its language's most common characters
# constantly; a wrong-grid decode hits them at chance level.
_COMMON_CHARS = {
    "gbk": set("的一是不了人我在有他这为之大来以个中上们到说国和地也子时道出而要于就下得可你年生"),
    "big5": set("的一是不了人我在有他這為之大來以個中上們到說國和地也子時道出而要於就下得可你年生"),
    "euc_kr": set("이다는에하고의지을가서한들로도를은어있기사나것수그대보주정등시"),
    "shift_jis": set("のにはをたがでてとしれさあるいうんなっ日本語"),
    "euc_jp": set("のにはをたがでてとしれさあるいうんなっ日本語"),
    "cp1252": set("éèêàâçüöäñáíóú“”‘’–—€«»"),
}


def _plausibility(txt: str, enc: str) -> float:
    ranges = _EXPECTED_RANGES[enc]
    common = _COMMON_CHARS[enc]
    expected = weird = other = hits = 0
    for ch in txt:
        o = ord(ch)
        if o < 0x80:
            continue
        if ch in common:
            hits += 1
        if any(lo <= o <= hi for lo, hi in ranges):
            expected += 1
        elif 0x80 <= o <= 0x9F or o == 0xFFFD or 0xE000 <= o <= 0xF8FF:
            weird += 1  # C1 controls / replacement / private use: wrong
        else:
            other += 1
    n = expected + weird + other
    if n == 0:
        return 0.0
    return (expected - 2.0 * weird + 3.0 * hits) / n


def _detect_and_decode(raw: bytes) -> str:
    sample = raw[:65536]
    best_enc, best_score = None, 0.0
    truncated = len(raw) > len(sample)
    for enc in _DETECT_CANDIDATES:
        try:
            txt = sample.decode(enc)
        except LookupError:
            continue
        except UnicodeDecodeError as e:
            # a multibyte sequence split at the 64 KiB sample cut must
            # not eliminate the CORRECT encoding: if the only failure
            # is within the last 4 bytes of a truncated sample, retry
            # strictly on the sample trimmed at the failure point.
            # Mid-sample garbage still disqualifies (strict decode).
            if not (truncated and e.start >= len(sample) - 4):
                continue
            try:
                txt = sample[: e.start].decode(enc)
            except (UnicodeDecodeError, LookupError):
                continue
        score = _plausibility(txt, enc)
        if score > best_score:
            best_enc, best_score = enc, score
    if best_enc is not None:
        return raw.decode(best_enc, "replace")
    return raw.decode("cp1252", "replace")


def decode_html_bytes(raw: bytes) -> str:
    if raw is None:
        return None
    if isinstance(raw, str):
        return raw
    for bom, enc in _BOMS:
        if raw.startswith(bom):
            try:
                return raw.decode(enc)
            except (UnicodeDecodeError, LookupError):
                break
    m = _CHARSET_RE.search(raw[:4096])
    if m:
        enc = (m.group(1) or m.group(2)).decode("ascii", "ignore")
        try:
            return raw.decode(enc)
        except (UnicodeDecodeError, LookupError):
            pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return _detect_and_decode(raw)


decode_html_udf = row_udf(decode_html_bytes, T.StringType(), lambda: None)


def decode_html(df: DataFrame, binary_col: str, out_col: str = "text") -> DataFrame:
    return df.withColumn(out_col, decode_html_udf(F.col(binary_col)))
