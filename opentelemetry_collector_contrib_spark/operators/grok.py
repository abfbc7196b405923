"""Grok-pattern support for the regex parse stage.

The north-star pipeline names "grok/regex extraction" (the stanza
regex_parser's sibling dialect): a grok expression is a readable
template of %{SYNTAX:SEMANTIC} references into a pattern library,
compiled to a plain named-group regex.  This module is that compiler —
the output feeds RegexParser unchanged, so grok rides its RE2
mapInArrow path: the library below is RE2-safe — alternations and
character classes only, no lookaround or backreferences, and strictly
NON-capturing internal groups so group numbering is exactly the named
captures.

Pattern set: the commonly-published logstash core patterns, re-derived
here (public knowledge), trimmed to RE2-compatible forms.
"""

from __future__ import annotations

import re

__all__ = ["GROK_PATTERNS", "grok_to_regex", "grok_parser"]

GROK_PATTERNS: dict[str, str] = {
    "POSINT": r"\d+",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "HOSTNAME": r"[0-9A-Za-z][0-9A-Za-z-]{0,62}"
                r"(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "QUOTEDSTRING": r"\"[^\"]*\"|'[^']*'",
    "UNIXPATH": r"(?:/[\w.-]+)+",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|NOTICE|WARN(?:ING)?|ERROR|"
                r"CRIT(?:ICAL)?|FATAL|SEVERE|ALERT|EMERG(?:ENCY)?)",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"
                         r"(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "SYSLOGTIMESTAMP": r"[A-Z][a-z]{2} +\d{1,2} \d{2}:\d{2}:\d{2}",
}

_REF_RX = re.compile(r"%\{(\w+)(?::([\w\[\].@-]+))?\}")
_NAME_SAN_RX = re.compile(r"[^A-Za-z0-9_]")
_MAX_DEPTH = 16


def _sanitize(semantic: str) -> str:
    """grok field names allow [nested][refs] and dots; regex group
    names do not — flatten deterministically."""
    name = re.sub("_+", "_", _NAME_SAN_RX.sub("_", semantic)).strip("_")
    if not name or name[0].isdigit():
        name = "f_" + name
    return name


def grok_to_regex(expr: str,
                  definitions: dict[str, str] | None = None,
                  anchored: bool = True) -> str:
    """Expand %{SYNTAX:SEMANTIC} references into a Python named-group
    regex.  Named references become ``(?P<SEMANTIC>...)``, bare
    ``%{SYNTAX}`` becomes a non-capturing group.  ``definitions`` adds
    or overrides library patterns (which may themselves contain grok
    references — expansion recurses, cycle-guarded)."""
    lib = dict(GROK_PATTERNS)
    if definitions:
        lib.update(definitions)

    def expand(s: str, depth: int) -> str:
        if depth > _MAX_DEPTH:
            raise ValueError("grok pattern recursion too deep (cycle?)")

        def one(m: re.Match) -> str:
            syntax, semantic = m.group(1), m.group(2)
            if syntax not in lib:
                raise KeyError(f"unknown grok pattern %{{{syntax}}}")
            body = expand(lib[syntax], depth + 1)
            if semantic:
                return f"(?P<{_sanitize(semantic)}>{body})"
            return f"(?:{body})"

        return _REF_RX.sub(one, s)

    out = expand(expr, 0)
    if anchored and not out.startswith("^"):
        out = f"^{out}$"
    return out


def grok_parser(expr: str, definitions: dict[str, str] | None = None,
                **kwargs):
    """A RegexParser built from a grok expression (same stage contract:
    one column per named reference, ``parsed`` flag on non-matches)."""
    from .regex_parser import RegexParser
    return RegexParser(pattern=grok_to_regex(expr, definitions), **kwargs)
