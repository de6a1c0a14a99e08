"""Grok → single-regex compiler (driver-side, compile-once).

Reimplements the semantics of processor_grok
(plugins/processor/grok/processor_grok.go):
  * `%{NAME}`            — inline the named pattern, non-capturing;
  * `%{NAME:alias}`      — inline it as a capturing group bound to alias;
  * `%{NAME:alias:type}` — same, plus a cast (`int`/`long`/`float`/
    `double`/`bool`) applied after extraction (processor_grok.go:49).

The reference denormalizes the pattern graph with a topological sort
(processor_grok.go:218-258, sort at :380-427), wrapping every referenced
pattern in a group — named `(?P<alias>...)` when aliased, plain `(...)`
when not (denormalizePattern, processor_grok.go:261-295) — and at match
time keeps every NAMED group's capture while skipping numeric (unnamed)
groups (processor_grok.go:141-152). So inner aliases survive un-aliased
references: `%{COMBINEDAPACHELOG}` extracts clientip/verb/… even with no
top-level alias. We reproduce that closure by recursive expansion with
cycle detection, where the ONLY capturing groups in the output are the
aliased references (at any depth, in opening-paren order ⇒ contiguous
group indices 1..n); un-aliased references, library parens, and literal
parens the user wrote are all rewritten non-capturing — exactly the set
the reference's extraction loop would skip. The compiled artifact is ONE
plain-group regex plus an ordered (alias, type, group_index) list that
runs unchanged in the JVM regex kernel of ``regex_parse``.

Multiple `Match` expressions are tried in order, first match wins
(processor_grok.go:135-173) — see :func:`grok_parse`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The full default pattern library at name parity with the reference's 78
# entries (processor_grok_default_patterns.go) — these are the standard
# public grok/logstash pattern definitions, written fresh. Where the
# upstream library uses regexp2-only syntax that Java/Python support
# (fixed-width lookbehind, atomic groups on Python ≥3.11) it is kept;
# where it doesn't matter for matching we keep the simpler equivalent.
DEFAULT_PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "BASE10NUM": r"(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?)|\.[0-9]+)",
    "NUMBER": r"(?:%{BASE10NUM})",
    "BASE16NUM": r"(?<![0-9A-Fa-f])(?:[+-]?(?:0x)?(?:[0-9A-Fa-f]+))",
    "BASE16FLOAT": r"\b(?<![0-9A-Fa-f.])(?:[+-]?(?:0x)?(?:(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?)|(?:\.[0-9A-Fa-f]+)))\b",
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r'(?:"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\')',
    "QS": r"%{QUOTEDSTRING}",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "URN": r"urn:[0-9A-Za-z][0-9A-Za-z-]{0,31}:(?:%[0-9a-fA-F]{2}|[0-9A-Za-z()+,.:=@;$_!*'/?#-])+",
    "IPV4": r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}(?:[0-9A-Fa-f]{0,4}|%{IPV4})",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "HOST": r"%{HOSTNAME}",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "EMAILLOCALPART": r"[a-zA-Z][a-zA-Z0-9_.+-=:]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "HTTPDUSER": r"%{EMAILADDRESS}|%{USER}",
    "CISCOMAC": r"(?:(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4})",
    "WINDOWSMAC": r"(?:(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2})",
    "COMMONMAC": r"(?:(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2})",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"(?!<[0-9])%{HOUR}:%{MINUTE}(?::%{SECOND})(?![0-9])",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "ISO8601_SECOND": r"(?:%{SECOND}|60)",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "DATE": r"%{DATE_US}|%{DATE_EU}",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[PMCE][SD]T|UTC|GMT)",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": r"%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo?(?:rmation)?|INFO?(?:RMATION)?|[Ww]arn?(?:ing)?|WARN?(?:ING)?|[Ee]rr?(?:or)?|ERR?(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "TTY": r"(?:/dev/(pts|tty([pq])?)(\w+)?/?(?:[0-9]+))",
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]+)+",
    "WINPATH": r"(?:[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    # equivalent to the classic [A-Za-z](?:[A-Za-z0-9+\-.]+)+ but without
    # the (X+)+ nesting that the backtracking lint (rightly) rejects
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+\-.]+",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT:port})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIQUERY": r"[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPARAM": r"\?%{URIQUERY}",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "COMMONAPACHELOG": r'%{IPORHOST:clientip} %{HTTPDUSER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] "(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" %{NUMBER:response} (?:%{NUMBER:bytes}|-)',
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    "HTTPD20_ERRORLOG": r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{LOGLEVEL:loglevel}\] (?:\[client %{IPORHOST:clientip}\] ){0,1}%{GREEDYDATA:errormsg}",
    "HTTPD24_ERRORLOG": r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{WORD:module}:%{LOGLEVEL:loglevel}\] \[pid %{POSINT:pid}:tid %{NUMBER:tid}\]( \(%{POSINT:proxy_errorcode}\)%{DATA:proxy_errormessage}:)?( \[client %{IPORHOST:client}:%{POSINT:clientport}\])? %{DATA:errorcode}: %{GREEDYDATA:message}",
    "HTTPD_ERRORLOG": r"%{HTTPD20_ERRORLOG}|%{HTTPD24_ERRORLOG}",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]]+))?(?::(\w+))?\}")


_NAMED_GROUP = re.compile(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>")


def _neutralize(s: str, on_named=None) -> str:
    """Rewrite every capturing ``(`` in a regex fragment to ``(?:``.

    Linear scan that is escape- and character-class-aware: ``\\(`` stays a
    literal, ``(`` inside ``[...]`` stays a class member (including the
    ``[]]`` / ``[^]]`` literal-bracket forms), and ``(?...)`` constructs
    (non-capturing, lookaround, atomic, flags) pass through unchanged —
    EXCEPT inline named groups ``(?<name>…)`` / ``(?P<name>…)`` (standard
    grok syntax; the reference's regexp2 extracts them like aliases,
    processor_grok.go:148): when ``on_named`` is given they are rewritten
    to a plain capturing ``(`` and reported via ``on_named(name)`` so the
    caller can assign them a field slot; lookbehinds ``(?<=``/``(?<!``
    are not named groups and pass through.
    """
    out: list[str] = []
    i, n = 0, len(s)
    in_class = False
    just_opened = False  # directly after '[' or '[^' — ']' is literal there
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            out.append(s[i : i + 2])
            i += 2
            just_opened = False
            continue
        if in_class:
            if c == "^" and just_opened and out[-1] == "[":
                out.append(c)
                i += 1
                continue
            if c == "]" and not just_opened:
                in_class = False
            out.append(c)
            i += 1
            just_opened = False
            continue
        if c == "[":
            in_class = True
            just_opened = True
            out.append(c)
            i += 1
            continue
        if c == "(":
            if not (i + 1 < n and s[i + 1] == "?"):
                out.append("(?:")
                i += 1
                continue
            nm = _NAMED_GROUP.match(s, i)
            if nm and on_named is not None:
                on_named(nm.group(1))
                out.append("(")
                i = nm.end()
                continue
        out.append(c)
        i += 1
    return "".join(out)


@dataclass
class CompiledGrok:
    regex: str                     # plain-group Java/Python-compatible regex
    fields: list[tuple[str, str, int]]  # (alias, type, group_index)

    @property
    def keys(self) -> list[str]:
        return [a for a, _, _ in self.fields]

    @property
    def types(self) -> dict[str, str]:
        m = {"int": "int", "long": "long", "float": "float", "double": "double",
             "bool": "boolean", "boolean": "boolean"}
        return {a: m[t] for a, t, _ in self.fields if t in m}


_UNBOUNDED_Q = re.compile(r"^(\*|\+|\{\d+,\})")


def _group_spans(regex: str) -> list[tuple[int, int]]:
    """(open, close) index pairs of every paren group, char-class aware."""
    stack: list[int] = []
    out: list[tuple[int, int]] = []
    i, in_class = 0, False
    while i < len(regex):
        c = regex[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            in_class = True
        elif c == "(":
            stack.append(i)
        elif c == ")" and stack:
            out.append((stack.pop(), i))
        i += 1
    return out


def _split_branches(body: str) -> list[str]:
    """Top-level alternation branches of a regex body (class/group aware)."""
    branches: list[str] = []
    depth, in_class, start, i = 0, False, 0, 0
    while i < len(body):
        c = body[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|" and depth == 0:
            branches.append(body[start:i])
            start = i + 1
        i += 1
    branches.append(body[start:])
    return branches


# character universe for first-set analysis: 7-bit ASCII plus one
# surrogate token standing for every non-ASCII codepoint
_UNIVERSE = frozenset(chr(i) for i in range(128)) | {"￿"}
_ESC_SETS = {
    "d": frozenset("0123456789"),
    "w": frozenset(
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
    ),
    "s": frozenset(" \t\n\r\f\v"),
}


def _atom_span(s: str) -> int:
    """Length of the first atom of s (group, class, escape, or char)."""
    if not s:
        return 0
    if s[0] == "(":
        close = next((e for a, e in _group_spans(s) if a == 0), None)
        return (close + 1) if close is not None else 1
    if s[0] == "[":
        j, esc = 1, False
        if j < len(s) and s[j] == "^":
            j += 1
        if j < len(s) and s[j] == "]":  # literal ] first
            j += 1
        while j < len(s) and (esc or s[j] != "]"):
            esc = not esc and s[j] == "\\"
            j += 1
        return j + 1
    if s[0] == "\\":
        return 2
    return 1


def _class_set(cls: str) -> frozenset | None:
    """Approximate member set of a [...] class body; None = unknown."""
    out: set[str] = set()
    neg = cls.startswith("^")
    if neg:
        cls = cls[1:]
    i = 0
    while i < len(cls):
        c = cls[i]
        if c == "\\" and i + 1 < len(cls):
            e = cls[i + 1]
            if e.lower() in _ESC_SETS:
                base = _ESC_SETS[e.lower()]
                out |= (_UNIVERSE - base) if e.isupper() else base
            else:
                out.add({"n": "\n", "t": "\t", "r": "\r"}.get(e, e))
            i += 2
            continue
        if i + 2 < len(cls) and cls[i + 1] == "-" and cls[i + 2] != "]":
            lo, hi = ord(c), ord(cls[i + 2])
            out |= {chr(x) for x in range(lo, hi + 1)}
            out.add("￿")  # ranges may extend past ASCII
            i += 3
            continue
        out.add(c)
        i += 1
    return frozenset(_UNIVERSE - out) if neg else frozenset(out)


def _first_set(s: str, depth: int = 0) -> frozenset | None:
    """Approximate set of characters that can BEGIN a match of regex
    fragment s. None = unknown (callers treat unknown as non-overlapping
    — the lint stays a no-false-positive heuristic)."""
    if depth > 8 or not s:
        return None
    first = s[: _atom_span(s)]
    rest = s[_atom_span(s) :]
    if first.startswith("("):
        body = first[1:-1] if first.endswith(")") else first[1:]
        for pfx in ("?:", "?>", "?="):
            if body.startswith(pfx):
                body = body[len(pfx) :]
                break
        else:
            if body.startswith(("?<=", "?<!", "?!")):
                return None
            if body.startswith(("?<", "?P<")) and ">" in body:
                body = body[body.index(">") + 1 :]
            elif body.startswith("?"):
                return None
        sets = [_first_set(b, depth + 1) for b in _split_branches(body)]
        if any(x is None for x in sets):
            return None
        out: frozenset = frozenset()
        for x in sets:
            out |= x
    elif first.startswith("["):
        out = _class_set(first[1:-1])
    elif first.startswith("\\"):
        e = first[1]
        if e.lower() in _ESC_SETS:
            base = _ESC_SETS[e.lower()]
            out = frozenset(_UNIVERSE - base) if e.isupper() else base
        elif e in "AbBZz":  # zero-width assertions
            return _first_set(rest, depth + 1)
        elif e.isdigit():
            return None  # backreference: first char is the capture's, unknown
        else:
            out = frozenset({"n": "\n", "t": "\t", "r": "\r"}.get(e, e))
    elif first == ".":
        out = frozenset(_UNIVERSE - {"\n"})
    elif first in "^$":
        return _first_set(rest, depth + 1)
    else:
        out = frozenset(first)
    # if the first atom is optional (?, *, {0,n}), what follows can also
    # begin the match
    m = re.match(r"^(\?|\*|\{0,\d*\})", rest)
    if m:
        tail = _first_set(rest[m.end() :].lstrip("+?"), depth + 1)
        if tail is None:
            return None
        out = out | tail
    return out


def _leading_atom_unbounded(body: str) -> bool:
    """True when the body's FIRST atom (of the body or of any top-level
    alternation branch) carries an unbounded quantifier — the shape that
    makes each outer-loop iteration start ambiguous."""
    for br in _split_branches(body):
        if not br:
            continue
        # find the end of the first atom
        if br[0] == "(":
            spans = _group_spans(br)
            close = next((e for s, e in spans if s == 0), None)
            end = (close + 1) if close is not None else 1
        elif br[0] == "[":
            j, esc = 1, False
            while j < len(br) and (esc or br[j] != "]"):
                esc = not esc and br[j] == "\\"
                j += 1
            end = j + 1
        elif br[0] == "\\":
            end = 2
        else:
            end = 1
        m = _UNBOUNDED_Q.match(br[end:])
        # a possessive quantifier (X++ / X*+) never backtracks
        if m and not br[end + len(m.group(1)) :].startswith("+"):
            return True
    return False


def lint_backtracking(regex: str) -> list[str]:
    """Compile-time complexity lint standing in for the reference's
    regexp2 MatchTimeout (processor_grok.go:322-333): a user pattern that
    can backtrack catastrophically would stall an executor mid-task at
    100 TB, where a wall-clock timeout cannot be expressed in a codegen'd
    JVM regex. Returns the offending constructs.

    Three detectors, all scoped to unbounded-quantified groups (atomic
    groups ``(?>…)`` and possessive quantifiers never backtrack and
    always pass):

    1. ambiguous iteration START — the body (or a top-level alternation
       branch) leads with an unbounded-quantified atom: ``(X+)+``,
       ``(?:a+|b+)*``.
    2. overlapping alternation — two top-level branches can begin with
       the same character, so one prefix splits into exponentially many
       parses: ``(a|aa)+``, ``(ab|a)*c``.
    3. ambiguous iteration BOUNDARY — a branch ENDS with a non-possessive
       unbounded atom whose character set overlaps the characters that
       can begin the next iteration: ``(?:a[ab]+)+``. Separator-anchored
       loops like ``(?:/[^/]+)+`` pass ('/' ∉ [^/]).

    This is a HEURISTIC, not a decision procedure (that would require
    full NFA ambiguity analysis): first-character sets are approximate
    and unknown sets are treated as non-overlapping, so exotic shapes
    can still slip through — the trade is zero false positives on the
    grok pattern library. The reference's runtime timeout remains the
    only complete answer; it has no JVM-codegen equivalent."""
    bad: list[str] = []
    for s, e in _group_spans(regex):
        m = _UNBOUNDED_Q.match(regex[e + 1 :])
        if not m:
            continue
        q = m.group(1)
        if regex[e + 1 + len(q) : e + 2 + len(q)] == "+":
            continue  # possessive outer quantifier
        body = regex[s + 1 : e]
        if body.startswith("?>"):
            continue  # atomic group
        if body.startswith("?:"):
            body = body[2:]
        elif body.startswith(("?<=", "?<!", "?=", "?!")):
            continue  # lookaround: not an iterating loop body
        elif body.startswith(("?<", "?P<")):
            body = body[body.index(">") + 1 :]
        elif body.startswith("?"):
            continue  # inline flags group
        construct = regex[s : e + 1 + len(q)]
        if _leading_atom_unbounded(body):
            bad.append(construct)
            continue
        branches = _split_branches(body)
        if len(branches) > 1 and _branches_overlap(branches):
            bad.append(construct)
            continue
        if _trailing_atom_restarts(branches, body):
            bad.append(construct)
    return bad


def _literal_branch(br: str) -> str | None:
    """The exact literal string a branch matches, or None when the
    branch contains anything beyond plain/escaped characters (classes,
    groups, quantifiers, wildcards, anchors)."""
    out: list[str] = []
    i = 0
    while i < len(br):
        c = br[i]
        if c == "\\" and i + 1 < len(br):
            e = br[i + 1]
            if e.lower() in _ESC_SETS or e in "AbBZz" or e.isdigit():
                return None  # a set/assertion/backreference, not one char
            out.append({"n": "\n", "t": "\t", "r": "\r"}.get(e, e))
            i += 2
            continue
        if c in "([.^$|)*+?{":
            return None
        out.append(c)
        i += 1
    return "".join(out)


def _uniquely_decodable(words: list[str]) -> bool:
    """EXACT ambiguity decision for an iterated literal alternation
    ``(w1|w2|…)+`` — the Sardinas–Patterson unique-decodability test.
    The iteration backtracks exponentially iff some input decomposes
    into the branch words two different ways, iff the dangling-suffix
    closure reaches a codeword. This replaces the first-character
    heuristic for all-literal branches: ``(?:INFO|INVALID)+`` (shared
    first char, uniquely decodable) passes, ``(a|aa)+`` and
    ``(a|ab|ba)+`` (genuinely ambiguous — measured exponential in
    Python's re) are flagged. Terminates: every dangling suffix is a
    suffix of a codeword, so the set universe is finite."""
    code = set(words)
    if len(code) < len(words) or "" in code:
        return False  # duplicate branches / empty word: ambiguous outright
    cur = {
        y[len(x):]
        for x in code
        for y in code
        if x != y and y.startswith(x)
    }
    seen: set[frozenset] = set()
    while cur:
        if cur & code:
            return False
        key = frozenset(cur)
        if key in seen:
            return True
        seen.add(key)
        cur = {
            c[len(s):] for s in cur for c in code if c != s and c.startswith(s)
        } | {
            s[len(c):] for s in cur for c in code if s != c and s.startswith(c)
        }
    return True


def _branches_overlap(branches: list[str]) -> bool:
    """Ambiguity check for an iterated alternation. All-LITERAL branch
    sets get the EXACT Sardinas–Patterson decision (no false positives,
    no false negatives for this class); anything with classes/groups/
    quantifiers falls back to the approximate first-character overlap
    (unknown sets never overlap — the conservative, zero-false-positive-
    on-the-library heuristic)."""
    if any(not br for br in branches):
        # an EMPTY branch inside an iterated alternation — (a||b)+ —
        # is catastrophic outright: the empty word matches at every
        # position, so every input decomposes exponentially many ways.
        # Must be decided before any filtering; dropping empty branches
        # here previously let this class through both paths.
        return True
    lits = [_literal_branch(br) for br in branches]
    if all(lit is not None for lit in lits):
        return not _uniquely_decodable([lit for lit in lits if lit is not None])
    sets = [_first_set(br) for br in branches if br]
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            if sets[i] is not None and sets[j] is not None and sets[i] & sets[j]:
                return True
    return False


def _trailing_atom_restarts(branches: list[str], body: str) -> bool:
    """True when some branch ends with a non-possessive unbounded atom
    whose character set overlaps the first-set of the loop body — the
    trailing atom and the next iteration then compete for the same
    characters."""
    body_first = _first_set(body)
    if body_first is None:
        return False
    for br in branches:
        # walk atoms to find the trailing one + its quantifier
        i = 0
        last_atom, last_q = "", ""
        while i < len(br):
            n = _atom_span(br[i:])
            if n == 0:
                break
            atom = br[i : i + n]
            i += n
            qm = re.match(r"^(\*\+|\+\+|\*\?|\+\?|\*|\+|\?|\{\d+,?\d*\}\+?)", br[i:])
            qq = qm.group(1) if qm else ""
            i += len(qq)
            last_atom, last_q = atom, qq
        unbounded = last_q.startswith(("*", "+")) or (
            last_q.startswith("{") and re.match(r"^\{\d+,\}", last_q)
        )
        possessive = last_q in ("*+", "++") or (
            last_q.startswith("{") and last_q.endswith("+")
        )
        if not unbounded or possessive:
            continue
        atom_set = _first_set(last_atom)
        if atom_set is not None and atom_set & body_first:
            return True
    return False


def compile_grok(
    expr: str, custom_patterns: dict[str, str] | None = None
) -> CompiledGrok:
    """Denormalize a grok expression into one plain-group regex.

    Equivalent closure to the reference's topo-sorted denormalization
    (processor_grok.go:261-295) + named-groups-only extraction
    (processor_grok.go:141-152): every %{REF} is fully inlined; ALIASED
    references — at any nesting depth, so inner aliases of an un-aliased
    %{REF} survive, e.g. %{SYSLOGPROG} yields program/pid — become plain
    `(...)` groups in opening-paren order; everything else (un-aliased
    refs, library parens, literal parens the user wrote) is rewritten
    non-capturing, matching the groups the reference's extraction skips.
    Group indices are therefore contiguous 1..len(fields).
    """
    patterns = dict(DEFAULT_PATTERNS)
    if custom_patterns:
        patterns.update(custom_patterns)

    # (alias, type) in opening-paren order; indices assigned at the end
    flat: list[tuple[str, str]] = []

    def on_named(name: str) -> None:
        # inline (?<name>…) named groups are extracted like aliases
        flat.append((re.sub(r"\W", "_", name), "string"))

    def expand(s: str, stack: tuple[str, ...]) -> str:
        out: list[str] = []
        pos = 0
        for m in _GROK_REF.finditer(s):
            out.append(_neutralize(s[pos : m.start()], on_named))
            name, alias, typ = m.group(1), m.group(2), m.group(3)
            if name in stack:
                raise ValueError(
                    f"grok pattern cycle: {' -> '.join(stack)} -> {name}"
                )
            if name not in patterns:
                raise KeyError(f"unknown grok pattern %{{{name}}}")
            if alias:
                # outer group opens before the inner ones expand — append
                # the field record first to keep opening-paren order
                flat.append((re.sub(r"\W", "_", alias), typ or "string"))
                out.append("(" + expand(patterns[name], stack + (name,)) + ")")
            else:
                out.append("(?:" + expand(patterns[name], stack + (name,)) + ")")
            pos = m.end()
        out.append(_neutralize(s[pos:], on_named))
        return "".join(out)

    regex = expand(expr, ())
    re.compile(regex)  # validate eagerly, driver-side
    bad = lint_backtracking(regex)
    if bad:
        raise ValueError(
            "grok pattern can backtrack catastrophically (ambiguous nested "
            f"unbounded quantifiers): {bad} — rewrite the inner loop, make "
            "it possessive (X++), or use an atomic group (?>X+)"
        )
    fields = [(a, t, i + 1) for i, (a, t) in enumerate(flat)]
    return CompiledGrok(regex=regex, fields=fields)


def grok_parse(
    df: DataFrame,
    matches: list[str] | str,
    source_key: str = "text",
    *,
    custom_patterns: dict[str, str] | None = None,
    keep_source: bool = True,
    keep_source_if_parse_error: bool = True,
    max_input_len: int | None = None,
) -> DataFrame:
    """processor_grok (plugins/processor/grok/processor_grok.go:35-173).

    Multiple match expressions are tried in priority order; the first
    whose regex matches supplies the fields (processor_grok.go:135-173).
    Columnar form: later patterns only fill keys still NULL on rows not
    matched by an earlier pattern.

    `max_input_len` truncates the MATCHED input to its first N chars —
    the runtime backstop for the reference's regexp2 MatchTimeout
    (processor_grok.go:322-333) that `lint_backtracking` (a compile-time
    heuristic) cannot fully be: a pathological pattern whose core eludes
    the lint does work bounded by the cap, not by the row length.
    Documented truncation semantics: captures come from the prefix only;
    a match completing beyond the cap is a parse failure.
    """
    from ilogtail_spark.operators.parse import regex_parse

    if isinstance(matches, str):
        matches = [matches]
    compiled = [compile_grok(mx, custom_patterns) for mx in matches]

    if len(compiled) == 1:
        cg = compiled[0]
        return regex_parse(
            df, cg.regex, cg.keys, source_key, types=cg.types,
            keep_source=keep_source,
            keep_source_if_parse_error=keep_source_if_parse_error,
            max_input_len=max_input_len,
        )

    # multi-match: priority-ordered fill
    all_keys: list[str] = []
    for cg in compiled:
        for k in cg.keys:
            if k not in all_keys:
                all_keys.append(k)
    src = (
        F.substring(F.col(source_key), 1, max_input_len)
        if max_input_len is not None
        else F.col(source_key)
    )
    df = df.withColumn("__grok_done__", F.lit(False))
    for ci, cg in enumerate(compiled):
        pat = "(?s)" + cg.regex
        m = (~F.col("__grok_done__")) & src.rlike(pat)
        cols = {}
        # duplicate aliases across alternation branches (e.g.
        # HTTPD_ERRORLOG's timestamp): first NON-EMPTY capture wins —
        # only one branch participates in a match (processor_grok.go:148)
        slots: dict[str, list[int]] = {}
        for k, _typ, gi in cg.fields:
            slots.setdefault(k, []).append(gi)
        for k, idxs in slots.items():
            val = F.regexp_extract(src, pat, idxs[0])
            for gi in idxs[1:]:
                val = F.coalesce(
                    F.nullif(val, F.lit("")),
                    F.regexp_extract(src, pat, gi),
                )
            if k in cg.types:
                val = val.cast(cg.types[k])
            prev = F.col(k) if ci > 0 and k in df.columns else F.lit(None)
            cols[k] = F.when(m, val).otherwise(prev.cast(cg.types.get(k, "string")))
        cols["__grok_done__"] = F.col("__grok_done__") | m
        df = df.withColumns(cols)
    matched = F.col("__grok_done__")
    from ilogtail_spark.operators.parse import _apply_keep_source

    df = _apply_keep_source(df, source_key, matched, keep_source, keep_source_if_parse_error)
    return df.drop("__grok_done__")
