"""URL filter chain — first-veto conjunction of filters.

Re-expresses ``net/URLFilters.java:51-57`` (chain: first null wins) and
``lib-regex-filter/.../RegexURLFilterBase.java`` + ``urlfilter-regex``
(rule file of ``[+-]<regex>`` lines, **first matching rule wins**, no
match => reject). The default rule set mirrors
``conf/regex-urlfilter.txt.template`` — but note that template denies
media suffixes, which would veto our media-span outlinks; crawl
configs therefore pass an explicit rule list (SURVEY.md T5 caveat).

Prefix / suffix / domain filters (``urlfilter-prefix`` etc.) are
broadcast-set membership tests, vectorizable without regex.
"""

from __future__ import annotations

import re
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from nutch_spark.urls.urlutil import get_host, host_expr

# conf/regex-urlfilter.txt.template (comment/blank lines removed)
DEFAULT_RULES: list[str] = [
    r"-^(?:file|ftp|mailto):",
    r"-(?i)\.(?:gif|jpg|png|ico|css|sit|eps|wmf|zip|ppt|mpg|xls|gz|rpm|tgz|mov|exe|jpeg|bmp|js)$",
    r"-[?*!@=]",
    r"-.*(/[^/]+)/[^/]+\1/[^/]+\1/",
    r"+.",
]

# rule set for crawl runs over the interleaved-docs corpus: accept http(s)
# on any host, reject everything else; media refs are first-class outlinks
# (parse-html/.../DOMContentUtils.java:84-97)
CRAWL_RULES: list[str] = [
    r"-^(?:file|ftp|mailto):",
    r"+^https?://",
    r"-.",
]


class RegexURLFilter:
    """First-match-wins accept/deny regex chain."""

    def __init__(self, rules: Sequence[str] | None = None):
        self._rules: list[tuple[bool, re.Pattern]] = []
        for line in rules if rules is not None else DEFAULT_RULES:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            sign = line[0]
            if sign not in "+-":
                raise ValueError(f"rule must start with + or -: {line!r}")
            self._rules.append((sign == "+", re.compile(line[1:])))

    def accept(self, url: str | None) -> bool:
        if url is None:
            return False
        for is_accept, pat in self._rules:
            if pat.search(url):
                return is_accept
        return False  # no match => reject (RegexURLFilterBase)


def default_filter() -> RegexURLFilter:
    return RegexURLFilter(DEFAULT_RULES)


def crawl_filter() -> RegexURLFilter:
    return RegexURLFilter(CRAWL_RULES)


class PrefixURLFilter:
    """urlfilter-prefix: accept iff url starts with any listed prefix.

    Backed by the ported ``PrefixStringMatcher`` trie (urls/trie.py) —
    the reference plugin's own structure (PrefixURLFilter.java:62) —
    so accept() is O(len(url)) regardless of list size."""

    def __init__(self, prefixes: Iterable[str]):
        from nutch_spark.urls.trie import PrefixStringMatcher

        self._matcher = PrefixStringMatcher(list(prefixes))

    def accept(self, url: str | None) -> bool:
        return url is not None and self._matcher.matches(url)


class SuffixURLFilter:
    """urlfilter-suffix: *reject* iff url ends with any listed suffix
    (case-insensitive — suffixes are lowercased to match the lowercased
    URL, else an entry like '.GIF' could never fire). Backed by the
    ported ``SuffixStringMatcher`` trie (SuffixURLFilter.java:100)."""

    def __init__(self, suffixes: Iterable[str]):
        from nutch_spark.urls.trie import SuffixStringMatcher

        self._matcher = SuffixStringMatcher([s.lower() for s in suffixes])

    def accept(self, url: str | None) -> bool:
        return url is not None and not self._matcher.matches(url.lower())


def url_filter_udf(rules: Sequence[str] | None = None):
    """Arrow-batched pandas UDF: url -> boolean accept mask. Fallback
    path for rules ``url_filter_cond`` can't compile to JVM regex."""
    rule_list = list(rules) if rules is not None else list(DEFAULT_RULES)

    @F.pandas_udf("boolean")
    def _filt(urls: pd.Series) -> pd.Series:
        filt = RegexURLFilter(rule_list)  # compiled once per batch-worker
        return urls.map(filt.accept)

    return _filt


# Python regex constructs java.util.regex can't run (or runs with
# different semantics): named groups/backrefs (?P...), comments (?#...),
# local/unicode/ascii inline flags, conditional groups (?(...)...),
# \Z (Java's \Z tolerates a final newline where Python's does not —
# Java \z is the strict one)
_PY_ONLY_RE = re.compile(r"\(\?P[<=]|\(\?#|\(\?[aLu]\)?|\(\?\(|\\Z")


def java_translatable(pattern: str) -> bool:
    """True when the Python rule pattern is also a valid-and-equivalent
    Java regex (the common case: Nutch rule files ARE Java regexes).

    The screen above catches known semantic divergences; syntax is then
    checked authoritatively by compiling with java.util.regex through
    the active session's JVM (a Python-valid pattern Java rejects must
    take the pandas fallback, not crash the executor). Without a
    reachable JVM (no active session / Spark Connect) the screen alone
    decides."""
    if _PY_ONLY_RE.search(pattern) is not None:
        return False
    jvm = None
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        jvm = spark._jvm if spark is not None else None
    except Exception:  # noqa: BLE001 — Connect sessions have no _jvm
        jvm = None
    if jvm is not None:
        try:
            jvm.java.util.regex.Pattern.compile(pattern)
        except Exception:  # noqa: BLE001 — PatternSyntaxException via Py4J
            return False
    return True


def url_filter_cond(url_col: Column, rules: Sequence[str] | None = None) -> Column:
    """T4/T5 as a JVM column: the first-match-wins ``[+-]regex`` chain
    compiled to ``when(url.rlike(r1), a1).when(...).otherwise(False)``
    — whole-stage-codegen, no Python in the hot path. Catalyst ``rlike``
    *is* java.util.regex with find() semantics, i.e. exactly the
    reference's ``RegexURLFilterBase`` matcher, so this is closer to the
    reference than the Python ``re`` fallback.

    Falls back to the Arrow-batched pandas UDF only when a rule uses a
    Python-only construct (named groups, ``\\Z``, ...). NULL url =>
    reject (null rlike => null => when() skips => otherwise(False))."""
    rule_list = list(rules) if rules is not None else list(DEFAULT_RULES)
    parsed: list[tuple[bool, str]] = []
    for line in rule_list:
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if line[0] not in "+-":
            raise ValueError(f"rule must start with + or -: {line!r}")
        parsed.append((line[0] == "+", line[1:]))
    if not all(java_translatable(rx) for _, rx in parsed):
        return url_filter_udf(rule_list)(url_col)
    cond = None
    for is_accept, rx in parsed:
        c = url_col.rlike(rx)
        cond = F.when(c, F.lit(is_accept)) if cond is None else cond.when(c, F.lit(is_accept))
    if cond is None:
        return F.lit(False)
    return cond.otherwise(F.lit(False))  # no match => reject


class DomainURLFilter:
    """urlfilter-domain / urlfilter-domaindenylist as a broadcast-set
    suffix lookup (``DomainURLFilter.java:84-110``,
    ``DomainDenylistURLFilter``): entries are hosts, domains, or domain
    suffixes; a URL matches when its host or any ancestor domain is
    listed. ``deny=False`` accepts only matching URLs (allowlist);
    ``deny=True`` rejects them (denylist).

    The JVM condition tests every dot-suffix of the host against the
    entry set (arrays_overlap against a literal array — broadcast-sized,
    no join, no Python). This is a slight superset of the reference's
    {registry-suffix, registered-domain, host} triple — an entry like
    ``b.c.com`` here also matches host ``a.b.c.com``, which the
    reference's triple check would not; real allowlists list registered
    domains, where the two coincide.
    """

    def __init__(self, domains: Iterable[str], deny: bool = False):
        self._set = {d.strip().lower() for d in domains if d.strip()}
        self._deny = deny

    def cond(self, url_col: Column) -> Column:
        if not self._set:
            return F.lit(True)  # no entries => filter inactive
        host = host_expr(url_col)
        # the host and all its ancestor domains
        # (a.b.c.com -> [a.b.c.com, b.c.com, c.com, com])
        parts = F.split(host, r"\.")
        n = F.size(parts)
        sufs = F.transform(
            F.sequence(F.lit(1), n), lambda i: F.concat_ws(".", F.slice(parts, i, n))
        )
        hit = F.coalesce(
            F.arrays_overlap(sufs, F.array(*[F.lit(d) for d in sorted(self._set)])),
            F.lit(False),
        )
        # hostless => reject, both modes (ref: exception => null)
        return F.when(host.isNull(), F.lit(False)).otherwise(~hit if self._deny else hit)

    def accept(self, url: str | None) -> bool:
        """Python twin (tests / driver-side checks)."""
        host = get_host(url)
        if host is None:
            return False  # hostless => reject, both modes
        parts = host.split(".")
        sufs = {".".join(parts[i:]) for i in range(len(parts))}
        hit = bool(sufs & self._set)
        return (not hit) if self._deny else hit


_FAST_CATCH_ALL = re.compile(r"^\s*DenyPath(?:Query)?\s+\.[*?]\s*$")


class FastURLFilter:
    """urlfilter-fast (``FastURLFilter.java:60-140``): deny rules
    (``DenyPath`` / ``DenyPathQuery`` regexes) scoped to ``Host x`` /
    ``Domain y`` sections; ``Domain .`` scopes globally; a URL is
    accepted unless some in-scope rule matches its path (or
    path?query). Compiled to one JVM boolean column: OR over
    (scope AND target.rlike(regex)) terms, negated."""

    def __init__(self, lines: Iterable[str]):
        # (kind, name, target, regex) — regex None = catch-all deny
        self._rules: list[tuple[str, str, str, str | None]] = []
        kind, name = None, None
        for raw in lines:
            line = raw.split("#", 1)[0].strip()
            if not line:
                continue
            fields = line.split(None, 1)
            operand = fields[1] if len(fields) > 1 else None
            if line.startswith("Host"):
                # a bare section/rule word without its operand is
                # skipped, like every other malformed line — not an
                # IndexError at construction
                if operand:
                    kind, name = "host", operand.split()[0]
            elif line.startswith("Domain"):
                if operand:
                    kind, name = "domain", operand.split()[0]
            elif kind is not None and operand:
                if _FAST_CATCH_ALL.match(line):
                    self._rules.append((kind, name, "path", None))
                elif line.startswith("DenyPathQuery"):
                    self._rules.append((kind, name, "pathquery", operand))
                elif line.startswith("DenyPath"):
                    self._rules.append((kind, name, "path", operand))
                # unknown rule lines are skipped, like the reference

    def cond(self, url_col: Column) -> Column:
        # unparseable (no scheme) or NULL => reject, like the reference's
        # `new URL(url)` failure path (FastURLFilter.java:46-52)
        parseable = F.coalesce(
            url_col.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), F.lit(False)
        )
        host = host_expr(url_col)
        after = F.regexp_replace(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
        path = F.regexp_extract(after, r"^([^?#]*)", 1)
        pathquery = F.regexp_extract(after, r"^([^#]*)", 1)
        deny = F.lit(False)
        for kind, name, target, rx in self._rules:
            if kind == "host":
                scope = host == name.lower()
            elif name == ".":
                scope = F.lit(True)
            else:
                scope = (host == name.lower()) | host.endswith("." + name.lower())
            if rx is None:
                term = scope
            else:
                tgt = path if target == "path" else pathquery
                term = scope & tgt.rlike(rx)
            deny = deny | F.coalesce(term, F.lit(False))
        return F.when(parseable, ~deny).otherwise(F.lit(False))

    def accept(self, url: str | None) -> bool:
        """Python twin of :meth:`cond` for tests."""
        if url is None:
            return False
        m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", url)
        if not m:
            return False  # unparseable => reject, matching cond()
        host = get_host(url) or ""
        rest = url[m.end():]
        path = re.match(r"^([^?#]*)", rest).group(1)
        pathquery = re.match(r"^([^#]*)", rest).group(1)
        for kind, name, target, rx in self._rules:
            if kind == "host":
                in_scope = host == name.lower()
            elif name == ".":
                in_scope = True
            else:
                nl = name.lower()
                in_scope = host == nl or host.endswith("." + nl)
            if not in_scope:
                continue
            if rx is None:
                return False
            tgt = path if target == "path" else pathquery
            if re.search(rx, tgt):
                return False
        return True


# ---------------------------------------------------------------------------
# urlfilter-validator / urlfilter-automaton / urlfilter-ignoreexempt
# ---------------------------------------------------------------------------

# the validator's regex battery, verbatim from
# urlfilter-validator/.../UrlValidator.java:56-100 (itself a trimmed
# commons-validator): these are Java regexes that are also valid,
# semantically identical Python regexes
_V_URL_PAT = r"^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?(#(.*))?$"
_V_LEGAL = r"^[\x21-\x7E]+$"
_V_SCHEME = r"^[a-zA-Z]+$"
_V_AUTH_PAT = r"^([a-zA-Z0-9\-\.]*)(:\d*)?(.*)?$"
_V_IP = r"^(\d{1,3})[.](\d{1,3})[.](\d{1,3})[.](\d{1,3})$"
_V_ATOM = r"[^\s;/@&=,.?:+$]+"
_V_DOMAIN = rf"^{_V_ATOM}(\.{_V_ATOM})*$"
_V_PATH = r"^(/[-\w:@&?=+,.!/~*'%$_;\(\)]*)?$"
_V_PORT = r"^:(\d{1,5})$"


class ValidatorURLFilter:
    """urlfilter-validator (``UrlValidator.java:102-224``): syntactic
    URL validation — printable-ASCII only, alpha scheme, IPv4 octets
    ≤255 or a hostname whose top-level label is ≥2 chars, starts with a
    letter and is preceded by at least one more label, numeric port
    ≤5 digits, and a path drawn from the legal path characters.
    Rejection = drop (chain veto), like every URLFilter."""

    def cond(self, url_col: Column) -> Column:
        """Pure-JVM column replica (regexp_extract + rlike; every
        pattern is ^..$-anchored so rlike's find() == Java matches())."""
        u = url_col
        scheme = F.regexp_extract(u, _V_URL_PAT, 2)
        authority = F.regexp_extract(u, _V_URL_PAT, 4)
        path = F.regexp_extract(u, _V_URL_PAT, 5)
        host = F.regexp_extract(authority, _V_AUTH_PAT, 1)
        port = F.regexp_extract(authority, _V_AUTH_PAT, 2)
        extra = F.regexp_extract(authority, _V_AUTH_PAT, 3)

        ip_shape = host.rlike(_V_IP)
        ip_ok = ip_shape
        for i in range(1, 5):
            ip_ok = ip_ok & (
                F.regexp_extract(host, _V_IP, i).cast("int") <= 255
            )
        parts = F.split(host, r"\.")
        top = F.element_at(parts, -1)
        host_ok = (
            host.rlike(_V_DOMAIN)
            & (F.size(parts) >= 2)
            & (F.length(top) >= 2)
            & top.rlike(r"^[a-zA-Z]")
        )
        ok = (
            u.rlike(_V_LEGAL)
            & scheme.rlike(_V_SCHEME)
            & (authority != "")
            & F.when(ip_shape, ip_ok).otherwise(host_ok)
            & ((port == "") | port.rlike(_V_PORT))
            & (F.trim(extra) == "")
            & path.rlike(_V_PATH)
        )
        return F.coalesce(ok, F.lit(False))

    def accept(self, url: str | None) -> bool:
        """Python twin (same regexes, fullmatch == Java matches())."""
        if url is None or not re.fullmatch(_V_LEGAL, url):
            return False
        m = re.fullmatch(_V_URL_PAT, url)
        if not m:
            return False
        scheme, authority = m.group(2), m.group(4)
        path = m.group(5) or ""
        if scheme is None or not re.fullmatch(_V_SCHEME, scheme):
            return False
        if authority is None:
            return False
        am = re.fullmatch(_V_AUTH_PAT, authority)
        if not am:
            return False
        host, port, extra = am.group(1), am.group(2), am.group(3)
        im = re.fullmatch(_V_IP, host)
        if im:
            if any(int(im.group(i)) > 255 for i in range(1, 5)):
                return False
        else:
            if not re.fullmatch(_V_DOMAIN, host):
                return False
            segs = host.split(".")
            top = segs[-1]
            if len(segs) < 2 or len(top) < 2 or not re.match(r"^[a-zA-Z]", top):
                return False
        if port and not re.fullmatch(_V_PORT, port):
            return False
        if extra and extra.strip():
            return False
        return re.fullmatch(_V_PATH, path) is not None


# constructs dk.brics.automaton cannot compile: lookarounds, backrefs,
# \b/\B, inline flags, named groups, possessive/reluctant exotica — an
# automaton rule file using them is a configuration error
_NON_AUTOMATON_RE = re.compile(r"\(\?|\\[1-9bBAZzG]")


class AutomatonURLFilter(RegexURLFilter):
    """urlfilter-automaton (``urlfilter-automaton/.../AutomatonURLFilter.java``):
    the same ``[+-]regex`` first-match-wins chain as urlfilter-regex,
    restricted to dk.brics.automaton's regex subset (linear-time DFA in
    the reference). Under Spark both chains compile to the same
    ``when(rlike)`` JVM columns — java.util.regex on the automaton
    subset is semantically identical, so only the construction-time
    screen differs: rules using constructs an automaton cannot express
    are rejected here instead of silently behaving differently."""

    def __init__(self, rules: Sequence[str]):
        for line in rules:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            if _NON_AUTOMATON_RE.search(line[1:]):
                raise ValueError(
                    f"not an automaton-expressible pattern: {line!r}"
                )
        super().__init__(rules)
        self.rules = list(rules)

    def cond(self, url_col: Column) -> Column:
        return url_filter_cond(url_col, self.rules)


def exemption_cond(url_col: Column, rules: Sequence[str]) -> Column:
    """urlfilter-ignoreexempt (``ExemptionUrlFilter.java:38-44``): when
    ``db.ignore.external.links`` is on, an external outlink is still
    followed if the exemption rule chain accepts it. The rule file is
    plain RegexURLFilter syntax applied to the *target* URL."""
    return url_filter_cond(url_col, rules)
