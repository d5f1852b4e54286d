"""JavaScript string semantics helpers.

The reference renderer (packages/graph/src/loader/html.ts) relies on JS
``String.prototype.trim`` / ``trimEnd`` and ``/\\s/u`` regex whitespace,
whose whitespace class differs from Python's ``str.strip`` / ``re`` ``\\s``:

* JS WhiteSpace = TAB VT FF SP NBSP ZWNBSP(U+FEFF) + Unicode Zs
* JS LineTerminator = LF CR LS(U+2028) PS(U+2029)
* Python ``str.strip()`` also strips U+001C-U+001F and U+0085 but NOT U+FEFF.

Byte-identity of extracted text per url (BASELINE.json input_hint) requires
matching the JS class exactly — most visibly for U+00A0, which
``decodeEntities`` produces from ``&nbsp;`` *before* whitespace collapsing
runs (loader/__tests__/html.test.ts:39-42).
"""

from __future__ import annotations

import re

# JS WhiteSpace + LineTerminator productions (ECMA-262), i.e. what /\s/u
# matches and what trim()/trimEnd() strip.
JS_WS_CHARS = (
    "\t\n\x0b\x0c\r "
    "  "
    "           "
    "    　﻿"
)

_WS_CLASS = "[" + re.escape(JS_WS_CHARS) + "]"
RE_WS_RUN = re.compile(_WS_CLASS + "+")
RE_TRAILING_WS_NL = re.compile("[ \t]+\n")
RE_3PLUS_NL = re.compile("\n{3,}")


def js_trim(s: str) -> str:
    """Equivalent of JS String.prototype.trim()."""
    return s.strip(JS_WS_CHARS)


def js_trim_end(s: str) -> str:
    """Equivalent of JS String.prototype.trimEnd()."""
    return s.rstrip(JS_WS_CHARS)


def collapse_inline_whitespace(s: str) -> str:
    """loader/html.ts:193-195 — /\\s+/gu → " ", then trim."""
    return js_trim(RE_WS_RUN.sub(" ", s))


def normalize_markdown(s: str) -> str:
    """loader/html.ts:184-191 — strip ws-before-newline, collapse 3+ newlines,
    trimEnd every line."""
    s = RE_TRAILING_WS_NL.sub("\n", s)
    s = RE_3PLUS_NL.sub("\n\n", s)
    return "\n".join(js_trim_end(line) for line in s.split("\n"))
