"""URL filter chain — first-veto conjunction of filters, as JVM columns.

Re-expresses ``net/URLFilters.java:51-57`` (chain: first null wins) and
``lib-regex-filter/.../RegexURLFilterBase.java`` + ``urlfilter-regex``
(rule file of ``[+-]<java-regex>`` lines, **first matching rule wins**,
no match => reject). The default rule set mirrors
``conf/regex-urlfilter.txt.template`` — but note that template denies
media suffixes, which would veto our media-span outlinks; crawl
configs therefore pass an explicit rule list (SURVEY.md T5 caveat).

Every filter is a boolean JVM column for ``df.filter``: the regex chain
(``url_filter_cond``, also the automaton and ignore-exempt chains) is a
``when(rlike)`` chain on java.util.regex, the domain / fast / validator
filters are regex and array expressions, and urlfilter-prefix /
-suffix are ``trie.prefix_match_cond`` / ``suffix_match_cond``. No
filter has a second implementation here; the Python oracles the tests
compare these columns against live in ``tests/url_oracles.py``.
"""

from __future__ import annotations

import re
from typing import Iterable, Sequence

from pyspark import SparkContext
from pyspark.errors import IllegalArgumentException
from pyspark.sql import Column
from pyspark.sql import functions as F

from nutch_spark.urls.urlutil import host_expr

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


def _parse_rules(rules: Sequence[str]) -> list[tuple[bool, str]]:
    """``[+-]regex`` rule lines -> ``(is_accept, pattern)`` pairs; blank
    and ``#`` lines are skipped (``RegexURLFilterBase.readRules``)."""
    parsed = []
    for line in rules:
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if line[0] not in "+-":
            raise ValueError(f"rule must start with + or -: {line!r}")
        parsed.append((line[0] == "+", line[1:]))
    return parsed


def url_filter_cond(url_col: Column, rules: Sequence[str] | None = None) -> Column:
    """T4/T5 as a JVM column: the first-match-wins ``[+-]regex`` chain
    compiled to ``when(url.rlike(r1), a1).when(...).otherwise(False)``
    — whole-stage-codegen, no Python in the hot path. Catalyst ``rlike``
    *is* java.util.regex with find() semantics, i.e. exactly the
    reference's ``RegexURLFilterBase`` matcher (``\\Z`` included).

    Every pattern is compiled by ``java.util.regex.Pattern`` in the
    session's JVM first: a rule Java rejects raises ``ValueError``
    naming it before any job runs, as the reference fails to load such
    a rule file. NULL url => reject (null rlike => null => when() skips
    => otherwise(False))."""
    parsed = _parse_rules(DEFAULT_RULES if rules is None else rules)
    java_pattern = SparkContext._active_spark_context._jvm.java.util.regex.Pattern
    cond = None
    for is_accept, rx in parsed:
        try:
            java_pattern.compile(rx)
        except IllegalArgumentException as e:  # PatternSyntaxException
            rule = ("+" if is_accept else "-") + rx
            raise ValueError(f"rule {rule!r} is not a java.util.regex pattern: {e}") from None
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


# constructs dk.brics.automaton cannot compile: lookarounds, backrefs,
# \b/\B, inline flags, named groups, possessive/reluctant exotica — an
# automaton rule file using them is a configuration error
_NON_AUTOMATON_RE = re.compile(r"\(\?|\\[1-9bBAZzG]")


class AutomatonURLFilter:
    """urlfilter-automaton (``urlfilter-automaton/.../AutomatonURLFilter.java``):
    the same ``[+-]regex`` first-match-wins chain as urlfilter-regex,
    restricted to dk.brics.automaton's regex subset (linear-time DFA in
    the reference). Under Spark both chains compile to the same
    ``when(rlike)`` JVM columns — java.util.regex on the automaton
    subset is semantically identical, so only the construction-time
    screen differs: rules using constructs an automaton cannot express
    are rejected here instead of silently behaving differently."""

    def __init__(self, rules: Sequence[str]):
        for is_accept, rx in _parse_rules(rules):
            if _NON_AUTOMATON_RE.search(rx):
                rule = ("+" if is_accept else "-") + rx
                raise ValueError(f"not an automaton-expressible pattern: {rule!r}")
        self.rules = list(rules)

    def cond(self, url_col: Column) -> Column:
        return url_filter_cond(url_col, self.rules)
