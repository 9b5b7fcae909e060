"""URL normalization — the reference's default chain re-expressed in Python.

The reference runs an ordered, per-scope plugin chain (framework
``net/URLNormalizers.java:97-119``, default order Basic -> Regex per
``conf/nutch-default.xml:1485-1486``); its default config runs the same
chain in every scope. We re-express both active normalizers as one
pure-Python function, ``normalize``. Over a column, ``normalize_col``
settles already-canonical URLs in the JVM (``fast_canonical_cond``) and
sends only the rest through one Arrow-batched pandas UDF
(``normalize_udf``) — URL parsing is inherently per-string, but the
batch transfer is vectorized (input_hint mandate).

``basic_normalize``
    Semantics of ``urlnormalizer-basic/.../BasicURLNormalizer.java``:
    lowercase scheme + host, percent-decode host, strip default port /
    empty port, drop fragment, empty path -> "/", RFC3986
    percent-encoding canonicalization of path+query (unescape
    unreserved, uppercase other escapes, escape controls/space/
    ``"<>[]^`{|}``/non-ASCII, escape stray '%'), remove ``/./ /../ //``
    segments. Conformance corpus: the golden pairs of
    ``TestBasicURLNormalizer.java:44-290`` (ported to tests/).

``regex_normalize``
    The default rule list of ``conf/regex-normalize.xml.template:29-60``
    applied in order, one ``replaceAll`` per rule
    (``urlnormalizer-regex/.../RegexURLNormalizer.java``).

Malformed URLs return ``None`` (the chain's MalformedURLException ->
the URL is dropped by callers, matching filter-on-normalize behavior).
"""

from __future__ import annotations

import re
from typing import Iterable

import pandas as pd
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Basic normalizer (BasicURLNormalizer.java)
# ---------------------------------------------------------------------------

_URL_RE = re.compile(
    r"^([a-zA-Z][a-zA-Z0-9+.\-]*):" r"(//(?P<auth>[^/?#]*))?" r"(?P<path>[^?#]*)" r"(?P<query>\?[^#]*)?" r"(?P<frag>#.*)?$",
    re.S,
)
_ESCAPE_HH = re.compile(r"%([0-9A-Fa-f]{2})")
_NORMALIZABLE_PATH = re.compile(r"/[./]|[.]/")  # BasicURLNormalizer.java:63-64

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}

# RFC3986 unreserved set that must be *decoded* (BasicURLNormalizer.java:75-95)
_UNRESERVED = set(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
# chars that must be *encoded* (BasicURLNormalizer.java:97-123)
_MUST_ESCAPE = set(range(0x21)) | {0x22, 0x3C, 0x3E, 0x5B, 0x5D, 0x5E, 0x60, 0x7B, 0x7C, 0x7D, 0x7F}
_HEX = set(b"0123456789abcdefABCDEF")


def _unescape_file(file: str) -> str:
    """Decode %HH for unreserved chars; uppercase all other escapes."""

    def repl(m: re.Match) -> str:
        code = int(m.group(1), 16)
        if code < 128 and code in _UNRESERVED:
            return chr(code)
        return m.group(0).upper()

    return _ESCAPE_HH.sub(repl, file)


def _escape_file(file: str) -> str:
    """UTF-8 encode then escape per the reference's escape table."""
    out = []
    data = file.encode("utf-8")
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b >= 128 or b in _MUST_ESCAPE:
            out.append("%%%02X" % b)
        elif b == 0x25:  # '%': keep only if a valid escape follows
            if i + 2 < n and data[i + 1] in _HEX and data[i + 2] in _HEX:
                out.append(chr(b))
                out.append(chr(data[i + 1]))
                out.append(chr(data[i + 2]))
                i += 2
            else:
                out.append("%25")
        else:
            out.append(chr(b))
        i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC3986 §5.2.4 + duplicate-slash collapse + leading-/.. strip.

    Matches the observable behavior of ``getFileWithNormalizedPath``
    (BasicURLNormalizer.java:262-296) on the reference's test corpus.
    """
    segments: list[str] = []
    trailing_slash = path.endswith("/")
    for seg in path.split("/"):
        if seg == "" or seg == ".":
            continue
        if seg == "..":
            if segments:
                segments.pop()
            # leading ".." at root is dropped (the while-loop strip)
        else:
            segments.append(seg)
    out = "/" + "/".join(segments)
    if trailing_slash and not out.endswith("/"):
        out += "/"
    # ".."/"." final segments imply directory semantics
    if path.endswith("/..") or path.endswith("/."):
        if not out.endswith("/"):
            out += "/"
    return out


def _decode_host(host: str) -> str:
    """Percent-decode a host name; raise ValueError on a bad sequence
    (BasicURLNormalizer.normalizeHostName step 1, MalformedURLException)."""
    if "%" not in host:
        return host
    out = []
    i, n = 0, len(host)
    while i < n:
        c = host[i]
        if c == "%":
            if i + 2 >= n + 1 or not _ESCAPE_HH.match(host[i : i + 3]):
                raise ValueError(f"invalid percent-encoded host: {host}")
            out.append(bytes([int(host[i + 1 : i + 3], 16)]))
            i += 3
        else:
            out.append(c.encode("utf-8"))
            i += 1
    return b"".join(out).decode("utf-8")


def basic_normalize(
    url: str | None,
    host_idn: str | None = None,
    trim_trailing_dot: bool = False,
) -> str | None:
    """Normalize one URL; returns None if malformed."""
    if url is None:
        return None
    if url == "":
        return ""
    url = url.strip()
    m = _URL_RE.match(url)
    if m is None:
        return None
    scheme_raw = m.group(1)
    scheme = scheme_raw.lower()
    has_auth = m.group(2) is not None
    auth = m.group("auth") if has_auth else None
    path = m.group("path") or ""
    query = m.group("query") or ""
    frag = m.group("frag")

    changed = scheme_raw != scheme or url != m.group(0)
    normalize_path = False
    host: str | None = None
    port = -1
    userinfo = ""

    if scheme in ("http", "https", "ftp"):
        if has_auth and auth is not None:
            hostport = auth
            if "@" in hostport:
                userinfo, hostport = hostport.rsplit("@", 1)
                changed = True  # URL recomposition drops userinfo
            if hostport.startswith("["):  # IPv6 literal
                idx = hostport.find("]")
                host_part = hostport[: idx + 1]
                rest = hostport[idx + 1 :]
            else:
                if ":" in hostport:
                    host_part, _, rest = hostport.partition(":")
                    rest = ":" + rest
                else:
                    host_part, rest = hostport, ""
            if rest.startswith(":"):
                port_str = rest[1:]
                if port_str == "":
                    changed = True  # empty port removed
                else:
                    if not port_str.isdigit():
                        return None
                    port = int(port_str)
            try:
                new_host = _decode_host(host_part)
            except ValueError:
                return None
            new_host = new_host.lower()
            if host_idn == "toAscii" and any(ord(c) > 127 for c in new_host):
                try:
                    new_host = new_host.encode("idna").decode("ascii")
                except UnicodeError:
                    return None
            elif host_idn == "toUnicode" and "xn--" in new_host:
                try:
                    new_host = new_host.encode("ascii").decode("idna")
                except (UnicodeError, UnicodeDecodeError):
                    return None
            if trim_trailing_dot and new_host.endswith("."):
                new_host = new_host[:-1]
            if new_host != host_part:
                changed = True
            host = new_host
        else:
            changed = True  # no authority: recompose

        if port == _DEFAULT_PORTS.get(scheme, -1):
            port = -1
            changed = True

        normalize_path = True
        file = path + query
        if file == "":
            file = "/"
            changed = True
            normalize_path = False
        elif not file.startswith("/"):
            file = "/" + file
            changed = True
            normalize_path = False
        if frag is not None:
            changed = True
            frag = None
    elif scheme == "file":
        normalize_path = True
        file = path + query
    else:
        host = auth
        file = path + query

    file2 = _escape_file(_unescape_file(file))
    if file2 != file:
        changed = True
        file = file2

    if normalize_path:
        # re-split: query survives untouched, only the path is normalized
        qpos = file.find("?")
        p, q = (file[:qpos], file[qpos:]) if qpos >= 0 else (file, "")
        if _NORMALIZABLE_PATH.search(p):
            p2 = _remove_dot_segments(p)
            if p2 != p:
                changed = True
                file = p2 + q
        if file == "":
            file = "/"
            changed = True

    if not changed:
        return url

    # recompose as java.net.URL.toExternalForm does: "//" + authority only
    # when the authority (host[:port]) is non-empty
    authority = ""
    if host:
        authority = host + (":%d" % port if port != -1 else "")
    prefix = "//" + authority if authority else ("//" + auth if scheme == "file" and has_auth else "")
    out = scheme + ":" + prefix + file
    if frag is not None and scheme not in ("http", "https", "ftp"):
        out += frag
    return out


# ---------------------------------------------------------------------------
# Regex normalizer (conf/regex-normalize.xml.template rules, in order)
# ---------------------------------------------------------------------------

DEFAULT_REGEX_RULES: list[tuple[re.Pattern, str]] = [
    # strip session ids
    (re.compile(r"(?i)(;?\b_?(l|j|bv_)?(sid|phpsessid|sessionid)=.*?)(\?|&|#|$)"), r"\4"),
    # strip interpage anchors up to ? & or end
    (re.compile(r"#.*?(\?|&|$)"), r"\1"),
    # "?&" -> "?"
    (re.compile(r"\?&"), "?"),
    # collapse consecutive '&'
    (re.compile(r"&{2,}"), "&"),
    # strip trailing ? & or .
    (re.compile(r"[?&.]$"), ""),
    # file://// -> file:/
    (re.compile(r"^file://+"), "file:/"),
    # collapse // not preceded by ':'
    (re.compile(r"(?<!:)/{2,}"), "/"),
]


def regex_normalize(url: str | None, rules: Iterable[tuple[re.Pattern, str]] | None = None) -> str | None:
    if url is None:
        return None
    for pat, sub in rules or DEFAULT_REGEX_RULES:
        url = pat.sub(sub, url)
    return url


# ---------------------------------------------------------------------------
# Chain (URLNormalizers.java:97-119)
# ---------------------------------------------------------------------------


def normalize(url: str | None) -> str | None:
    """Basic then Regex, per the default ``urlnormalizer.order``.

    The reference's default config runs this same chain in every scope
    (inject, fetcher, crawldb, outlink, ...), so it takes no scope.
    """
    u = basic_normalize(url)
    if u is None:
        return None
    return regex_normalize(u)


def normalize_series(urls: pd.Series) -> pd.Series:
    """``normalize`` over one Arrow batch, nulls passed through."""
    if not urls.notna().any():
        # normalize_col nulls out fast rows JVM-side; a batch from an
        # all-canonical source arrives here as pure nulls
        return urls
    out = urls.copy()
    # nulls stay null without a per-row normalize(None) call — under
    # normalize_col the input series is null-dominated (fast rows are
    # nulled out JVM-side), so this skip is what keeps the UDF O(slow)
    live = urls.notna()
    out[live] = urls[live].map(normalize)
    return out


def normalize_udf():
    """Arrow-batched pandas UDF: url -> normalized url (null if malformed).

    Its one production caller is ``normalize_col``, which hands it only
    the rows ``fast_canonical_cond`` cannot settle (fast rows arrive as
    NULL), so the UDF runs the full chain on every non-null row.

    The chain is a pure function, but the UDF is flagged nondeterministic
    to pin single evaluation: a deterministic UDF behind the usual
    ``withColumn("u", norm).filter(u.isNotNull())`` pattern gets
    substituted into the pushed-down filter, and Catalyst then extracts
    TWO ArrowEvalPython nodes for the same call (observed in the
    parse_outlinks / feed_parse plans) — doubling the Arrow round-trips.
    Nondeterministic blocks the substitution, so the filter stays above
    one Project evaluating the UDF once. No semantic change: every call
    site materializes the result as a column before reusing it.
    """

    @F.pandas_udf("string")
    def _norm(urls: pd.Series) -> pd.Series:
        return normalize_series(urls)

    return _norm.asNondeterministic()


# Already-canonical fast path: URLs matching this shape are fixed points
# of the whole Basic+Regex chain — lowercase scheme/host, no port,
# userinfo, query, fragment, %-escape, or char needing escaping; path
# present and composed of unreserved chars. The extra checks in
# fast_canonical_cond exclude dot-segments ("/."), duplicate slashes,
# and a trailing '.' (regex rule "strip trailing [?&.]"). Everything
# else takes the exact per-string slow path. On crawl corpora the hit
# rate is the overwhelming majority — this is what keeps normalization
# in the JVM instead of Python at 10^10 URLs.
#
# \z (absolute end), NOT Java's \Z or '$': both also match before a
# final line terminator, which would wave 'http://a.com/x\n' through the
# fast path while the slow path strips the newline — the same URL would
# normalize to two different frontier keys.
_FAST_CANONICAL_JAVA = r"^https?://[a-z0-9.\-]+/[A-Za-z0-9._~\-/]*\z"


def fast_canonical_cond(col):
    """JVM boolean column: URL is a fixed point of the Basic+Regex chain.

    Null url -> null cond -> the caller's ``when`` falls through to the
    slow path, where ``normalize(None)`` is None.
    """
    return (
        col.rlike(_FAST_CANONICAL_JAVA)
        & (F.locate("/.", col) == 0)
        & ~col.endswith(".")
        # no '//' at or after char 9 (1-based) — past the 'http(s)://'
        # prefix for every string the regex above accepts
        & (F.locate("//", col, 9) == 0)
    )


def normalize_col(col):
    """Hybrid JVM/Arrow normalization: url column -> normalized url column.

    Catalyst evaluates Python UDFs unconditionally (ArrowEvalPython runs
    on every row even under ``when``), so gating the UDF with a boolean
    doesn't skip work. Instead the fast-path rows are NULLED on the way
    into the UDF — Arrow ships a validity bitmap instead of 10^10 URL
    strings, and the pandas side maps only the slow minority — then
    restored from the untouched JVM column on the way out:

        coalesce(udf(when(fast, NULL).otherwise(url)), when(fast, url))

    fast row: udf(NULL) -> NULL -> coalesce falls to url (fixed point).
    slow row: udf(url) -> normalized, or NULL if malformed; the second
    arm is NULL for slow rows, so malformed stays NULL.
    """
    fast = fast_canonical_cond(col)
    slow_in = F.when(fast, F.lit(None).cast("string")).otherwise(col)
    return F.coalesce(normalize_udf()(slow_in), F.when(fast, col))


# ---------------------------------------------------------------------------
# Optional per-deployment normalizers (urlnormalizer-querystring / -ajax /
# -protocol / -slash / -host plugins). Off by default — the default chain
# above stays Basic -> Regex like the reference's default config; these
# compose after it via `apply_extra_normalizers`.
# ---------------------------------------------------------------------------

_SPLIT_RE = re.compile(
    r"^(?P<scheme>[a-zA-Z][a-zA-Z0-9+.\-]*)://(?P<host>[^/:?#]*)(?::(?P<port>\d+))?"
    r"(?P<path>[^?#]*)(?:\?(?P<query>[^#]*))?(?:#(?P<frag>.*))?$",
    re.S,
)


def querystring_normalize(url: str | None, scope: str = "default") -> str | None:
    """urlnormalizer-querystring (QuerystringURLNormalizer.java:44-77):
    sort query parameters alphabetically so permuted duplicates
    collapse to one URL."""
    if url is None:
        return None
    m = _SPLIT_RE.match(url)
    if not m or m.group("query") is None:
        return url
    q = "&".join(sorted(m.group("query").split("&")))
    base, _, rest = url.partition("?")
    frag = ""
    if "#" in rest:
        frag = "#" + rest.split("#", 1)[1]
    return f"{base}?{q}{frag}"


def _ajax_escape(fragment: str) -> str:
    """AjaxURLNormalizer.escape (:214-243): %-encode control/space,
    '#', '%', '&', '+' and all non-ASCII UTF-8 bytes, uppercase hex."""
    out = []
    for b in fragment.encode("utf-8"):
        if b >= 128 or b < 33 or b in (0x23, 0x25, 0x26, 0x2B):
            out.append("%%%02X" % b)
        else:
            out.append(chr(b))
    return "".join(out)


def ajax_normalize(url: str | None, scope: str = "default") -> str | None:
    """urlnormalizer-ajax (AjaxURLNormalizer.java): crawl scopes map
    ``#!fragment`` to ``?_escaped_fragment_=...`` (the crawlable AJAX
    convention); the indexer scope maps it back."""
    from urllib.parse import unquote_plus

    if url is None:
        return None
    if scope == "indexer" and "_escaped_fragment_=" in url:
        m = _SPLIT_RE.match(url)
        if not m or m.group("query") is None:
            return url
        query = m.group("query")
        # reference quirk kept deliberately (AjaxURLNormalizer.java:138-151):
        # the FIRST '&' splits query from the fragment pair, so with >=2
        # parameters before _escaped_fragment_ the extra ones leak into the
        # rebuilt #! fragment exactly as the Java normalizer emits them
        # (the AJAX convention requires the pair to be sole or second).
        amp = query.find("&")
        if amp == -1:
            kv, query = query, ""
        else:
            kv = query[amp + 1:]
            query = query.replace("&" + kv, "", 1)
        kv = kv.replace("_escaped_fragment_=", "", 1)
        port = f":{m.group('port')}" if m.group("port") else ""
        qs = f"?{query}" if query else ""
        return (
            f"{m.group('scheme')}://{m.group('host')}{port}{m.group('path')}"
            f"{qs}#!{unquote_plus(kv)}"
        )
    if "#!" in url:
        pos = url.index("#!")
        head = url[:pos]
        sep = "&" if "?" in head else "?"
        return f"{head}{sep}_escaped_fragment_={_ajax_escape(url[pos + 2:])}"
    return url


def parse_kv_rules(text: str) -> dict[str, str]:
    """Shared host<TAB|SPACE>value config format of the protocol / host
    normalizer plugins (ProtocolURLNormalizer.readConfiguration):
    blank lines and '#' comments skipped, >2 fields skipped."""
    rules: dict[str, str] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split()
        if len(parts) != 2:
            continue
        rules[parts[0]] = parts[1]
    return rules


_RFC1630 = re.compile(r"^[a-z](?:[a-z0-9$\-_@.&!*\"'(),]|%[0-9a-f]{2})*$", re.I)


def protocol_normalize(
    url: str | None, rules: dict[str, str], scope: str = "default"
) -> str | None:
    """urlnormalizer-protocol (ProtocolURLNormalizer.java): force the
    configured scheme for listed hosts (exact) or ``*.domain`` entries
    (suffix match, longest wins); URLs with an explicit port are left
    unchanged. Invalid schemes in the rules are ignored (RFC 1630
    validator, :62-65). Deviation: the fragment is preserved (the
    reference's ``new URL(...)`` rebuild drops it)."""
    if url is None:
        return None
    m = _SPLIT_RE.match(url)
    if not m:
        return url
    if m.group("port"):
        return url
    host = m.group("host")
    required = None
    if host in rules:
        required = rules[host]
    else:
        best = -1
        for k, v in rules.items():
            if k.startswith("*."):
                suf = k[1:]  # ".domain"
                if host.endswith(suf) and len(suf) > best:
                    best, required = len(suf), v
    if required is None or not _RFC1630.match(required) or m.group("scheme") == required:
        return url
    return required + url[len(m.group("scheme")):]


def slash_normalize(
    url: str | None, rules: dict[str, str], scope: str = "default"
) -> str | None:
    """urlnormalizer-slash (SlashURLNormalizer.java): per-host trailing
    slash policy ('+' add / '-' remove); root URLs untouched; a slash
    is only added when the last path segment has no file extension
    (last '.' within 5 chars of the end, :106-109). Deviation: port
    and fragment are preserved (the reference's string rebuild drops
    them)."""
    if url is None:
        return None
    m = _SPLIT_RE.match(url)
    if not m or m.group("host") not in rules:
        return url
    path = m.group("path")
    if len(path) <= 1:
        return url
    want_slash = rules[m.group("host")] == "+"
    trailing = path.endswith("/")
    if not trailing and want_slash:
        dot = path.rfind(".")
        # reference quirk kept deliberately (SlashURLNormalizer.java:185):
        # `path.length() < 6` short-circuits the extension check, so a
        # short path WITH an extension ('/a.js') still gains a slash —
        # bit-faithful to the Java normalizer, do not "fix"
        if len(path) < 6 or dot == -1 or dot < len(path) - 6:
            new_path = path + "/"
        else:
            return url
    elif trailing and not want_slash:
        new_path = path[: path.rfind("/")]
    else:
        return url
    port = f":{m.group('port')}" if m.group("port") else ""
    qs = f"?{m.group('query')}" if m.group("query") is not None else ""
    frag = f"#{m.group('frag')}" if m.group("frag") is not None else ""
    return f"{m.group('scheme')}://{m.group('host')}{port}{new_path}{qs}{frag}"


def host_normalize(
    url: str | None, rules: dict[str, str], scope: str = "default"
) -> str | None:
    """urlnormalizer-host (HostURLNormalizer.java): rewrite hosts to a
    canonical form — exact entries first, then ``*.domain`` wildcards
    probed from the TLD outwards (:60-93). Collapses www./no-www
    duplicate sites."""
    if url is None:
        return None
    m = _SPLIT_RE.match(url)
    if not m:
        return url
    host = m.group("host")
    target = rules.get(host)
    if target is None:
        parts = host.split(".")
        buf = parts[-1]
        for i in range(len(parts) - 2, 0, -1):
            buf = parts[i] + "." + buf
            if "*." + buf in rules:
                target = rules["*." + buf]
                break
    if target is None or target == host:
        return url
    return url.replace("://" + host, "://" + target, 1)


def apply_extra_normalizers(
    url: str | None, steps: Iterable, scope: str = "default"
) -> str | None:
    """Run configured extra normalizers after the default chain; each
    step is ``callable(url, scope) -> url|None`` (use functools.partial
    to bind rule maps)."""
    for step in steps:
        if url is None:
            return None
        url = step(url, scope=scope)
    return url
