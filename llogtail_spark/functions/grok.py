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
