"""Python oracles for the JVM URL filter columns in ``urls/filters.py``.

Each function answers, for one URL string, what the matching ``cond``
column should answer. The engine has one implementation per filter (the
JVM column); these twins exist only so tests can compare the column
against an independent reading of the same rules.

``regex_accept`` runs the rule chain with Python ``re``, which agrees
with java.util.regex only on the shared subset of the syntax (not on
``\\Z``, named groups or conditional groups): use it with rule sets in
that subset.
"""

from __future__ import annotations

import re
from typing import Sequence

from nutch_spark.urls.filters import (
    _V_AUTH_PAT,
    _V_DOMAIN,
    _V_IP,
    _V_LEGAL,
    _V_PATH,
    _V_PORT,
    _V_SCHEME,
    _V_URL_PAT,
    FastURLFilter,
    _parse_rules,
)
from nutch_spark.urls.urlutil import get_host


def regex_accept(rules: Sequence[str], url: str | None) -> bool:
    """``RegexURLFilterBase``: first matching rule wins, no match or a
    NULL url => reject."""
    if url is None:
        return False
    for is_accept, rx in _parse_rules(rules):
        if re.search(rx, url):
            return is_accept
    return False


def domain_accept(domains: Sequence[str], url: str | None, deny: bool = False) -> bool:
    """urlfilter-domain (allowlist) / -domaindenylist: the host or one of
    its ancestor domains is listed."""
    host = get_host(url)
    if host is None:
        return False  # hostless => reject, both modes
    entries = {d.strip().lower() for d in domains if d.strip()}
    if not entries:
        return True  # no entries => filter inactive
    parts = host.split(".")
    hit = bool({".".join(parts[i:]) for i in range(len(parts))} & entries)
    return (not hit) if deny else hit


def fast_accept(f: FastURLFilter, url: str | None) -> bool:
    """urlfilter-fast over the rules ``f`` parsed: reject when an
    in-scope DenyPath / DenyPathQuery rule matches."""
    if url is None:
        return False
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", url)
    if not m:
        return False  # unparseable => reject
    host = get_host(url) or ""
    rest = url[m.end():]
    path = re.match(r"^([^?#]*)", rest).group(1)
    pathquery = re.match(r"^([^#]*)", rest).group(1)
    for kind, name, target, rx in f._rules:
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
        if re.search(rx, path if target == "path" else pathquery):
            return False
    return True


def validator_accept(url: str | None) -> bool:
    """urlfilter-validator (``UrlValidator.java``): the same regex battery
    as the column, with ``fullmatch`` standing for Java ``matches()``."""
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
