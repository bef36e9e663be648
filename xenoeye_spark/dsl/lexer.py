"""Tokenizer for the filter DSL.

Mirrors the reference lexer's behavior (filter-lexer.c:211-296):
  - single-quoted strings
  - integers via strtol(_, 0): decimal, 0x hex, 0 octal
  - integer ranges ``a-b``
  - dotted IPv4 (optionally ``/len``), IPv6, MAC literals
  - case-insensitive keywords/identifiers; ``-`` allowed inside ids
    (``tcp-flags``, ``dev-mark``)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# token kinds
LPAREN, RPAREN, COMMA, STRING, WORD, EOF = (
    "LPAREN", "RPAREN", "COMMA", "STRING", "WORD", "EOF",
)


@dataclass(frozen=True)
class Token:
    kind: str
    text: str
    pos: int  # char offset, for error messages (reference carries line/col)


class LexError(ValueError):
    pass


_WORD_RE = re.compile(r"[A-Za-z0-9_.:/\-]+")


def tokenize(s: str) -> list[Token]:
    toks: list[Token] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
            continue
        if c == "(":
            toks.append(Token(LPAREN, "(", i))
            i += 1
        elif c == ")":
            toks.append(Token(RPAREN, ")", i))
            i += 1
        elif c == ",":
            toks.append(Token(COMMA, ",", i))
            i += 1
        elif c == "'":
            j = s.find("'", i + 1)
            if j < 0:
                raise LexError(f"unterminated string at {i}: {s[i:i+20]!r}")
            toks.append(Token(STRING, s[i + 1 : j], i))
            i = j + 1
        else:
            m = _WORD_RE.match(s, i)
            if not m:
                raise LexError(f"unexpected char {c!r} at {i}")
            toks.append(Token(WORD, m.group(0), i))
            i = m.end()
    toks.append(Token(EOF, "", n))
    return toks


# --- value classification helpers (used by the parser's lookahead) ---------

_INT_RE = re.compile(r"^(0[xX][0-9a-fA-F]+|0[0-7]*|[1-9][0-9]*)$")
_RANGE_RE = re.compile(r"^(0[xX][0-9a-fA-F]+|[0-9]+)-(0[xX][0-9a-fA-F]+|[0-9]+)$")
_IP4_RE = re.compile(r"^\d{1,3}(\.\d{1,3}){3}(/\d{1,2})?$")
_MAC_RE = re.compile(r"^([0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}$")
_IP6_RE = re.compile(r"^[0-9a-fA-F:]*::[0-9a-fA-F:.]*(/\d{1,3})?$|^([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}(/\d{1,3})?$")


def parse_int(text: str) -> int | None:
    """strtol(_, 0)-style: decimal, 0x hex, leading-0 octal."""
    if not _INT_RE.match(text):
        return None
    try:
        return _strtol0(text)
    except ValueError:
        return None  # '08'/'09': invalid octal digits


def _strtol0(text: str) -> int:
    """strtol(_, 0) semantics shared by parse_int and parse_range —
    int(x, 0) is NOT equivalent: it raises on leading-zero decimals
    ('010'), which strtol reads as octal."""
    if text.lower().startswith("0x"):
        return int(text, 16)
    if text.startswith("0") and len(text) > 1:
        return int(text, 8)
    return int(text, 10)


def parse_range(text: str) -> tuple[int, int] | None:
    """``a-b`` closed integer interval (filter-lexer.c:268-293)."""
    m = _RANGE_RE.match(text)
    if not m:
        return None
    try:
        return _strtol0(m.group(1)), _strtol0(m.group(2))
    except ValueError:
        return None  # e.g. octal bound with digits 8/9: not a range


def is_ip4(text: str) -> bool:
    return bool(_IP4_RE.match(text))


def is_ip6(text: str) -> bool:
    return bool(_IP6_RE.match(text)) and not _MAC_RE.match(text)


def is_mac(text: str) -> bool:
    return bool(_MAC_RE.match(text))
