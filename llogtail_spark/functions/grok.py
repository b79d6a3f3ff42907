"""Minimal grok pattern compiler.

llogtail ships raw bytes with no parse stage; the north rule adds a
grok/regex parse over decoded token spans. This module turns grok
pattern strings (`%{LOGLEVEL:level} %{WORD:component} ...`) into
ordinary Python regexes with named groups, which the vectorized parse
stage (operators/parse.py) applies with Arrow's `pc.extract_regex`
(RE2) — one C++ pass per Arrow batch, no per-row Python.

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

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def compile_grok(pattern: str, extra: dict[str, str] | None = None) -> re.Pattern:
    """Expand %{NAME:field} refs into named groups and compile.

    Unnamed refs (%{NAME}) become non-capturing groups. Nested custom
    patterns may reference base patterns.
    """
    table = dict(BASE_PATTERNS)
    if extra:
        for k, v in extra.items():
            table[k] = _expand(v, table)

    return re.compile(_expand(pattern, table))


def _expand(pattern: str, table: dict[str, str]) -> str:
    def sub(m: re.Match) -> str:
        name, field = m.group(1), m.group(2)
        if name not in table:
            raise KeyError(f"unknown grok pattern %{{{name}}}")
        body = table[name]
        if field:
            return f"(?P<{field}>{body})"
        return f"(?:{body})"

    prev = None
    out = pattern
    # resolve nested refs to a fixed point (grok patterns may nest)
    while prev != out:
        prev = out
        out = _GROK_REF.sub(sub, out)
    return out

