"""Minimal grok pattern compiler.

llogtail ships raw bytes with no parse stage; the north rule adds a
grok/regex parse over decoded token spans. This module turns grok
pattern strings (`%{LOGLEVEL:level} %{WORD:component} ...`) into
ordinary Python regexes with named groups, which the vectorized parse
stage (operators/parse.py) applies with Arrow's `pc.extract_regex`
(RE2) — one C++ pass per Arrow batch, no per-row Python.
`token_layout` recognizes the patterns that match tokens one by one,
which the parse stage runs on token ids without decoding any text.

Only the pattern-compilation logic lives here so it is trivially
unit-testable without Spark.
"""

from __future__ import annotations

import re

# Core grok primitive patterns (public grok dialect, trimmed to what
# log lines need).
BASE_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "LOGLEVEL": r"TRACE|DEBUG|INFO|WARN|ERROR|FATAL",
    "IP": r"\d{1,3}(?:\.\d{1,3}){3}",
    "UUID": r"[0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}",
}

# base patterns whose every match is a non-empty run of non-space
# characters: in text made of words joined by single spaces, such a
# capture between two spaces (or a space and an anchor) is one word
TOKEN_PATTERNS = frozenset({"WORD", "NOTSPACE", "INT", "NUMBER", "LOGLEVEL", "IP", "UUID"})

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def compile_grok(pattern: str) -> re.Pattern:
    """Expand %{NAME:field} refs into named groups and compile.

    Unnamed refs (%{NAME}) become non-capturing groups. Base patterns
    hold no refs, so one substitution pass expands everything.
    """
    def sub(m: re.Match) -> str:
        name, field = m.group(1), m.group(2)
        if name not in BASE_PATTERNS:
            raise KeyError(f"unknown grok pattern %{{{name}}}")
        body = BASE_PATTERNS[name]
        return f"(?P<{field}>{body})" if field else f"(?:{body})"

    return re.compile(_GROK_REF.sub(sub, pattern))


def token_layout(pattern: str) -> tuple[list[tuple[str, str]], str | None] | None:
    """The word-by-word layout of a token-aligned grok: `^`, named
    `TOKEN_PATTERNS` captures separated by single spaces, an optional
    ` %{GREEDYDATA:<field>}` tail, then `$`.

    On text made of non-empty words without spaces or newlines joined
    by single spaces, such a pattern matches iff word i fully matches
    capture i, and the word count equals the capture count (no tail)
    or exceeds it (tail). Returns ([(field, capture regex)] by word
    position, the tail's field or None), or None for any other pattern.
    """
    if not (pattern.startswith("^") and pattern.endswith("$")):
        return None
    refs = [_GROK_REF.fullmatch(p) for p in pattern[1:-1].split(" ")]
    if not all(r and r.group(2) for r in refs):
        return None
    tail = refs.pop().group(2) if refs[-1].group(1) == "GREEDYDATA" else None
    if not refs or any(r.group(1) not in TOKEN_PATTERNS for r in refs):
        return None
    return [(r.group(2), BASE_PATTERNS[r.group(1)]) for r in refs], tail
