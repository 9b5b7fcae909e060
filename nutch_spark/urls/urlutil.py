"""Host/domain extraction, representative-URL choice, and URL hashes.

Re-expresses ``util/URLUtil.java`` (getHost :146-160, getDomainName
:98-118, chooseRepr :330-421) and the two Java hashes that matter for
parity:

- ``nutch_url_hash32`` — the Generator fetch-list interleave hash
  (``Generator.java:627-634``): ``hash=1; for i from last byte to
  first: hash = 31*hash + signed_byte`` with int32 wraparound. Sorting
  a fetch partition by this hash decorrelates issue order from host
  order — the reference's skew/politeness trick we reproduce exactly.
- ``java_string_hashcode`` — ``String.hashCode`` used by
  ``URLPartitioner.getPartition`` (``URLPartitioner.java:76-108``):
  partition = (hash(host_or_domain) ^ seed) & MAX_INT % partitions.

For scale the engine's 64-bit URL identity hash is Spark's built-in
``xxhash64`` (JVM-side, no Python); the 32-bit hashes here exist only
where byte-level ordering parity with the reference is required.

Domain extraction uses a compact public-suffix table sufficient for the
synthetic corpora (the reference ships conf/domain-suffixes.xml; ours
is a small independent table with the same lookup semantics: walk
labels right-to-left, domain = longest-known-suffix + one label).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# The one host semantics of the engine: scheme://[userinfo@]host, where
# host is a bracketed IPv6 literal (kept with its brackets, like
# java.net.URL.getHost) or runs up to the first '/', '?', '#' or ':'.
# The character classes are dialect-neutral, so host_expr runs the same
# pattern in Java (regexp_extract's find() is anchored by the '^').
_HOST_RE = re.compile(
    r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/?#@]*@)?(\[[^\]/?#]*\]|[^/?#:]*)"
)
_IP_RE = re.compile(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")

# Minimal public-suffix set: generic TLDs + the two-level suffixes used in
# tests; extend via NutchConfig if a crawl needs more.
_SUFFIXES = {
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz", "io",
    "dev", "app", "xyz", "site", "online", "store", "co",
    "de", "fr", "uk", "nl", "it", "es", "pl", "ru", "jp", "cn", "au", "ca",
    "us", "ch", "at", "be", "se", "no", "fi", "dk", "cz", "example", "test",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.cn", "com.br", "co.in", "co.nz",
}


def get_host(url: str | None) -> str | None:
    """Lowercased host of a URL, or None (URLUtil.getHost). The Python
    oracle of ``host_series`` (generate) and ``host_expr`` (everything
    else)."""
    if not url:
        return None
    m = _HOST_RE.match(url)
    if not m:
        return None
    host = m.group(1).lower()
    return host or None


def _suffix_host(url_or_host: str | None) -> str | None:
    """The host get_domain/get_tld walk: a URL's host or a bare host,
    lowercased, one trailing dot stripped; None when there is none."""
    if not url_or_host:
        return None
    host = get_host(url_or_host) if "://" in url_or_host else url_or_host.lower()
    if not host:
        return None
    return host[:-1] if host.endswith(".") else host


def _suffix_walk(host: str) -> tuple[str, str]:
    """(domain, suffix): walk labels right-to-left to the longest known
    public suffix; a host with none yields (its last label, twice)."""
    candidate = host
    while True:
        idx = candidate.find(".")
        sub = candidate[idx + 1 :]
        if sub in _SUFFIXES or idx < 0:
            return candidate, sub
        candidate = sub


def get_domain(url_or_host: str | None) -> str | None:
    """Domain = longest known public suffix + one label (URLUtil.getDomainName)."""
    host = _suffix_host(url_or_host)
    if host is None:
        return None
    return host if _IP_RE.match(host) else _suffix_walk(host)[0]


def get_tld(url_or_host: str | None) -> str | None:
    """Public domain suffix of the host (URLUtil.getDomainSuffix →
    DomainSuffix.getDomain, ``tld/.../TLDIndexingFilter.java:48-60``):
    the longest known public suffix, else the host's last label."""
    host = _suffix_host(url_or_host)
    if host is None or _IP_RE.match(host):
        return None
    return _suffix_walk(host)[1]


def choose_repr(src: str, dst: str, temp: bool) -> str:
    """Representative URL on redirect (URLUtil.chooseRepr:330-421)."""
    src_host, dst_host = get_host(src), get_host(dst)
    if src_host is None or dst_host is None:
        return dst
    src_domain, dst_domain = get_domain(src), get_domain(dst)
    src_file = _file_part(src)
    dst_file = _file_part(dst)
    src_root = src_file in ("", "/")
    dst_root = dst_file in ("", "/")

    if src_domain != dst_domain:
        return dst
    if not temp:
        return src if src_root else dst
    if src_root and not dst_root:
        return src
    if not src_root and dst_root:
        return dst
    if not src_root and not dst_root and src_host == dst_host:
        n_src = len(src_file.split("/"))
        n_dst = len(dst_file.split("/"))
        if n_src != n_dst:
            return dst if n_dst < n_src else src
        return dst if len(dst_file) < len(src_file) else src
    n_src = len(src_host.split("."))
    n_dst = len(dst_host.split("."))
    return dst if n_dst < n_src else src


def _file_part(url: str) -> str:
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*(.*)$", url)
    return m.group(1) if m else ""


# ---------------------------------------------------------------------------
# Hashes
# ---------------------------------------------------------------------------

_I32 = 1 << 32
_I32_MAX = (1 << 31) - 1


def _to_i32(v: int) -> int:
    v &= _I32 - 1
    return v - _I32 if v > _I32_MAX else v


def nutch_url_hash32(url: str) -> int:
    """Generator.HashComparator.hash (Generator.java:627-634)."""
    h = 1
    for b in reversed(url.encode("utf-8")):
        sb = b - 256 if b > 127 else b  # java byte is signed
        h = _to_i32(31 * h + sb)
    return h


def java_string_hashcode(s: str) -> int:
    """java.lang.String.hashCode (UTF-16 code units)."""
    h = 0
    for c in s:
        o = ord(c)
        if o > 0xFFFF:  # surrogate pair
            o -= 0x10000
            for unit in (0xD800 + (o >> 10), 0xDC00 + (o & 0x3FF)):
                h = _to_i32(31 * h + unit)
        else:
            h = _to_i32(31 * h + o)
    return h


def partition_index(key: str, seed: int, num_partitions: int) -> int:
    """URLPartitioner.getPartition: (hashCode ^ seed) & MAX_INT % N."""
    return (_to_i32(java_string_hashcode(key) ^ seed) & _I32_MAX) % num_partitions


# ---------------------------------------------------------------------------
# pandas UDFs
# ---------------------------------------------------------------------------


def host_series(urls: pd.Series) -> pd.Series:
    """Vectorized get_host: one C-level regex pass over the batch."""
    h = urls.str.extract(_HOST_RE, expand=False).str.lower()
    return h.where(h.notna() & (h != ""), None)


def host_udf():
    @F.pandas_udf("string")
    def _host(urls: pd.Series) -> pd.Series:
        return host_series(urls)

    return _host


def domain_udf():
    """get_domain via vectorized host extraction + per-batch unique-HOST
    cache: one C-level regex pass pulls the hosts, and the Python suffix
    walk runs once per distinct host (not once per URL — fetch lists are
    all-distinct URLs but only a few thousand hosts)."""

    @F.pandas_udf("string")
    def _domain(urls: pd.Series) -> pd.Series:
        has_scheme = urls.str.contains("://", regex=False, na=False)
        hosts = host_series(urls).where(has_scheme, urls)
        table = {h: get_domain(h) for h in hosts.dropna().unique()}
        return hosts.map(table)

    return _domain


def nutch_url_hash32_series(urls: pd.Series) -> pd.Series:
    """Vectorized HashComparator hash: group URLs by byte length, run
    the signed-byte Horner loop column-wise in numpy with int32
    wraparound per step (exactly Generator.java:627-634)."""
    import numpy as np

    enc = urls.map(lambda u: u.encode("utf-8") if u is not None else None)
    lens = enc.map(lambda b: len(b) if b is not None else -1).to_numpy()
    out = np.zeros(len(enc), dtype=np.int64)
    out[lens == 0] = 1  # empty string: Horner init value
    vals = enc.to_numpy()
    for length in np.unique(lens):
        if length <= 0:
            continue
        idx = np.nonzero(lens == length)[0]
        mat = np.frombuffer(b"".join(vals[idx]), dtype=np.uint8).reshape(
            len(idx), length
        ).astype(np.int64)
        sb = np.where(mat > 127, mat - 256, mat)
        h = np.ones(len(idx), dtype=np.int64)
        for col in range(length - 1, -1, -1):
            h = 31 * h + sb[:, col]
            h = ((h + (1 << 31)) & ((1 << 32) - 1)) - (1 << 31)  # int32 wrap
        out[idx] = h
    return pd.Series(out, index=urls.index)


def url_hash32_udf():
    @F.pandas_udf("int")
    def _h(urls: pd.Series) -> pd.Series:
        return nutch_url_hash32_series(urls)

    return _h


def partition_hash_udf(seed: int, num_partitions: int):
    """Partition id per URLPartitioner semantics, over the queue key
    column. Unique-value cache: one Java-hashCode walk per distinct
    host/domain key in the batch, not per row."""

    @F.pandas_udf("int")
    def _p(keys: pd.Series) -> pd.Series:
        uniq = keys.dropna().unique()
        table = {k: partition_index(k, seed, num_partitions) for k in uniq}
        default = partition_index("", seed, num_partitions)
        return keys.map(lambda k: table[k] if k is not None else default).astype("int32")

    return _p


# ---------------------------------------------------------------------------
# Pure-JVM twin of String.hashCode. split(s, '') yields one element per
# code point and ascii() returns the full code point (verified for
# supplementary planes), so the hash is an aggregate() fold with the
# UTF-16 unit expansion done arithmetically per char — no Python
# round-trip and no ASCII-only fallback path.
# ---------------------------------------------------------------------------


def _wrap_i32_col(v: Column) -> Column:
    """Java int32 wraparound for a long column: ((v+2^31) mod 2^32)-2^31."""
    return F.pmod(v + F.lit(1 << 31), F.lit(1 << 32)) - F.lit(1 << 31)


def java_hashcode_expr(s_col: Column) -> Column:
    """Exact JVM twin of ``java_string_hashcode`` (String.hashCode over
    UTF-16 code units; supplementary code points expand to a surrogate
    pair, two Horner steps)."""

    def step(acc: Column, c: Column) -> Column:
        cp = F.ascii(c).cast("long")
        bmp = _wrap_i32_col(acc * 31 + cp)
        v = cp - F.lit(0x10000)
        pair = _wrap_i32_col(
            _wrap_i32_col(acc * 31 + (F.lit(0xD800) + F.shiftright(v, 10))) * 31
            + (F.lit(0xDC00) + F.pmod(v, F.lit(1024)))
        )
        return F.when(cp <= 0xFFFF, bmp).otherwise(pair)

    return F.aggregate(
        F.array_remove(F.split(s_col, ""), ""), F.lit(0).cast("long"), step
    ).cast("int")


def host_expr(url_col: Column) -> Column:
    """Exact JVM twin of ``get_host`` (whole-stage codegen, no Python):
    every JVM-side host key — fetch queue and robots lookup, internal-
    link checks, dedup/stats/index keys, the URL filters — is this.

    regexp_extract returns '' both for no-match and for an empty host
    capture; get_host maps both to None — nullif folds them together.
    """
    return F.nullif(F.lower(F.regexp_extract(url_col, _HOST_RE.pattern, 1)), F.lit(""))


# Python's `$` in _IP_RE also matches just before one trailing '\n'
# (and only '\n' — not '\r\n', which Java's '$' would accept): encode
# that exactly as an optional final newline before absolute end
_IP_RE_JAVA = r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\n?\z"


def _suffix_tails(url_or_host_col: Column) -> tuple[Column, Column, list[Column]]:
    """JVM twin of ``_suffix_host``, the prelude domain_expr and tld_expr
    share: (host, label count, [1-, 2-, 3-label tails]).

    The Python suffix walk checks progressively shorter host tails
    against _SUFFIXES; since every table entry has at most two labels,
    only the 2-label and 1-label tails can ever match, so the walk
    flattens to a two-step ``when`` chain plus the walk's own fallback
    (the host's last label). The flattening is asserted against the
    table so an extended suffix list can't silently diverge.
    """
    assert all(s.count(".") <= 1 for s in _SUFFIXES), (
        "domain_expr/tld_expr flatten the suffix walk to depth 2; regenerate "
        "the when-chains if _SUFFIXES gains 3-label entries"
    )
    host = F.when(
        url_or_host_col.contains("://"), host_expr(url_or_host_col)
    ).otherwise(F.lower(url_or_host_col))
    host = F.nullif(host, F.lit(""))
    host = F.when(
        host.endswith("."), F.substr(host, F.lit(1), F.length(host) - 1)
    ).otherwise(host)

    labels = F.split(host, r"\.")
    # try_element_at: the when-guards make out-of-range tails unreachable,
    # but ANSI mode is on and Catalyst may evaluate branches eagerly —
    # a throwing element_at here would be a latent crash, not a value bug
    tails = [F.try_element_at(labels, F.lit(-1))]
    for k in (2, 3):
        tails.append(F.concat_ws(".", F.try_element_at(labels, F.lit(-k)), tails[-1]))
    return host, F.size(labels), tails


def domain_expr(url_or_host_col: Column) -> Column:
    """Exact JVM twin of ``get_domain`` (URLUtil.getDomainName)."""
    s1 = [s for s in _SUFFIXES if "." not in s]
    s2 = [s for s in _SUFFIXES if "." in s]
    host, n, (t1, t2, t3) = _suffix_tails(url_or_host_col)
    return F.when(host.rlike(_IP_RE_JAVA), host).otherwise(
        F.when((n >= 3) & t2.isin(s2), t3)
        .when((n >= 2) & t1.isin(s1), t2)
        .otherwise(t1)
    )


def tld_expr(url_or_host_col: Column) -> Column:
    """Exact JVM twin of ``get_tld`` (URLUtil.getDomainSuffix): the
    longest known public suffix of the host, else its last label; null
    for IPs/hostless inputs. A 2-label tail can only match when the host
    has a third label in front of it (the walk only tests tails strictly
    after a dot), so ``co.uk`` as the whole host yields ``uk``."""
    s2 = [s for s in _SUFFIXES if "." in s]
    host, n, (t1, t2, _) = _suffix_tails(url_or_host_col)
    return F.when(host.rlike(_IP_RE_JAVA), F.lit(None).cast("string")).otherwise(
        F.when((n >= 3) & t2.isin(s2), t2).otherwise(t1)
    )


# ---------------------------------------------------------------------------
# TableUtil reversed-url keys (util/TableUtil.java:41-140)
# ---------------------------------------------------------------------------

def reverse_host(host):
    """reverseAppendSplits: dot-segments reversed (com.foo.bar)."""
    return F.array_join(F.reverse(F.split(host, "\\.")), ".")


def reverse_url_col(url):
    """TableUtil.reverseUrl (``util/TableUtil.java:57-85``):
    ``http://bar.foo.com:8983/to/x?a=b`` -> ``com.foo.bar:http:8983/to/x?a=b``
    — the storage key form that clusters scans by domain. Pure JVM
    columns; the fragment is excluded like ``URL.getFile``."""
    proto = F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    auth = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    # java.net.URL.getHost() excludes userinfo — 'user@bar.com' must key
    # as com.bar, not corrupt the ':'-delimited head format
    auth = F.regexp_replace(auth, r"^[^@]*@", "")
    host = F.regexp_replace(auth, r":\d+$", "")
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    file = F.regexp_replace(
        F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
        "#.*$",
        "",
    )
    file = F.when(
        (file != "") & ~file.startswith("/"), F.concat(F.lit("/"), file)
    ).otherwise(file)
    return F.concat(
        reverse_host(host),
        F.lit(":"),
        proto,
        F.when(port != "", F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        file,
    )


def unreverse_url_col(rev):
    """TableUtil.unreverseUrl (``util/TableUtil.java:87-110``)."""
    slash = F.instr(rev, "/")
    head = F.when(slash > 0, F.substr(rev, F.lit(1), slash - 1)).otherwise(rev)
    rest = F.when(slash > 0, F.substr(rev, slash)).otherwise(F.lit(""))
    parts = F.split(head, ":")
    rev_host = F.element_at(parts, 1)
    proto = F.element_at(parts, 2)
    port = F.when(F.size(parts) >= 3, F.element_at(parts, 3))
    return F.concat(
        proto,
        F.lit("://"),
        reverse_host(rev_host),
        F.when(port.isNotNull(), F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        rest,
    )
