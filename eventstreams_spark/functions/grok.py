"""Grok pattern support (Logstash `grok` filter equivalent, SURVEY §2.3 P9).

A grok expression like ``src%{NUMBER:num}`` compiles to a Java regex
with one capture group per field. Extraction matches that regex ONCE
per row: a single ``regexp_replace`` rewrites the value to its captured
groups and a ``split`` turns them into one ``array<string>``, exactly
equal to per-field ``regexp_extract`` (first match, ``""`` for no match
or an absent group, NULL for NULL). JVM-side, codegen'd, no Python in
the hot path. Pattern library is the standard public grok core set
(re-expressed, not copied).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Core grok patterns (public Logstash pattern names, regex re-derived,
# not copied). Definitions may reference other patterns with %{NAME} —
# the compiler expands recursively, like Logstash's pattern files.
PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "POSINT": r"[1-9]\d*",
    "NONNEGINT": r"\d+",
    "NUMBER": r"\d+(?:\.\d+)?",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}(?:%\w+)?",
    "HOSTNAME": r"[a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?(?:\.[a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?)*",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILADDRESS": r"[a-zA-Z0-9._%+-]+@%{HOSTNAME}",
    "MAC": r"(?:[0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
    # date/time atoms
    "MONTH": r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12]\d)|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?\d)",
    "MINUTE": r"[0-5]\d",
    "SECOND": r"(?:[0-5]?\d)(?:[:.,]\d+)?",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    # uri
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+.-]*",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "QS": r'"(?:[^"\\]|\\.)*"',
    "QUOTEDSTRING": r"%{QS}",
    "PROG": r"[\w._/%-]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    # composite log-line formats (fields included, Logstash-style)
    "COMMONAPACHELOG": (
        r'%{IPORHOST:clientip} %{USER:ident} %{USER:auth} '
        r'\[%{HTTPDATE:timestamp}\] "%{WORD:verb} %{NOTSPACE:request}'
        r'(?: HTTP/%{NUMBER:httpversion})?" %{NONNEGINT:response} '
        r"(?:%{NONNEGINT:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": (
        r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}"
    ),
    "SYSLOGLINE": (
        r"%{SYSLOGTIMESTAMP:syslog_timestamp} %{SYSLOGHOST:syslog_host} "
        r"%{SYSLOGPROG}: %{GREEDYDATA:syslog_message}"
    ),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")
_MAX_DEPTH = 16


def grok_to_regex(expr: str) -> tuple[str, list[str]]:
    """Compile a grok expression to (regex, captured field names).

    Pattern definitions may reference other patterns (recursively, to
    a bounded depth). Field names are returned in capture-group order
    — including fields contributed by composite patterns like
    ``COMMONAPACHELOG`` — so ``regexp_extract(col, regex, i+1)``
    addresses ``fields[i]``.
    """
    fields: list[str] = []

    def expand(s: str, depth: int) -> str:
        if depth > _MAX_DEPTH:
            raise ValueError("grok pattern recursion too deep (cycle?)")

        def repl(m: re.Match) -> str:
            pat_name, field = m.group(1), m.group(2)
            pat = PATTERNS.get(pat_name)
            if pat is None:
                raise KeyError(f"unknown grok pattern %{{{pat_name}}}")
            if field:
                # open the group BEFORE recursing: capture-group order
                # (open-paren order) must match `fields` append order
                fields.append(field)
                return f"({expand(pat, depth + 1)})"
            return f"(?:{expand(pat, depth + 1)})"

        return _GROK_REF.sub(repl, s)

    return expand(expr, 0), fields


#: Separator of the rewritten groups. A value that already holds it
#: could not be split back apart, so such rows take the exact
#: per-field ``regexp_extract`` branch instead.
_SEP = "\u0001"


def grok_parse(col: Column | str, expr: str) -> tuple[Column, list[str]]:
    """(array<string> of the captured fields, field names), one regex
    match per row.

    ``^(?s:.*?)(?:R)(?s:.*)$`` matches where ``R`` first matches (the
    lazy prefix tries start positions left to right, like ``find``) and
    the rewrite keeps only ``SEP g1 … SEP gn``; an absent group
    rewrites to ``""``. A row with no match is left as is, so ``n``
    padding separators are appended and elements ``2..n+1`` of the
    split are the fields in both cases: ``""`` each for no match.
    """
    regex, fields = grok_to_regex(expr)
    c = F.col(col) if isinstance(col, str) else col
    n = len(fields)
    groups = "".join(f"{_SEP}${i}" for i in range(1, n + 1))
    rewritten = F.regexp_replace(c, f"^(?s:.*?)(?:{regex})(?s:.*)$", groups)
    parts = F.slice(F.split(F.concat(rewritten, F.lit(_SEP * n)), _SEP, -1), 2, n)
    exact = F.array(*[F.regexp_extract(c, regex, i) for i in range(1, n + 1)])
    return F.when(c.contains(_SEP), exact).otherwise(parts), fields


def grok_extract(col: Column | str, expr: str) -> dict[str, Column]:
    """Extract grok fields from a string column as {field: Column}.

    Fields selected in one projection share one match (subexpression
    elimination); to read them across several operators, make
    :func:`grok_parse`'s array a column first, as the ``grok``
    pipeline step does."""
    parts, fields = grok_parse(col, expr)
    return {f: parts[i] for i, f in enumerate(fields)}
