"""Pure-Python URL kernel shared by the Spark UDFs and the reference oracle.

Reimplements (from public WHATWG/RFC 3986 semantics, studied — not copied —
from the reference):
  * canonicalize_url  — reference ``ParseUrl``/``normalizeURL``
    (request.go:127-139, util.go:47-54): WHATWG-style parse + re-serialize,
    fixing the ``http://example.com`` vs ``http://example.com/`` ambiguity,
    percent-encoding stray ``%`` signs (the reference enables
    ``WithPercentEncodeSinglePercentSign()``, request.go:45), stripping ASCII
    tab/newline anywhere and C0-control/space at the ends (WHATWG URL §4.2).
    Fragments are KEPT in the normalized form (reference uses ``Href(false)``).
  * resolve_url       — reference ``Request.AbsoluteURL`` (request.go:61-79):
    resolve a possibly-relative href against a base URL; pure-fragment links
    (``#...``) are dropped *before* resolution (request.go:62-64).
  * xxhash64          — bit-exact pure-Python XXH64 (public algorithm,
    Yann Collet, BSD) with Spark's seed 42, so the oracle's visited-set keys
    equal Spark's ``F.xxhash64(col)``. The reference uses FNV-1a 64
    (util.go:56-67); the north rule mandates xxhash64 — set-equivalence holds
    because both hash the same canonical string 1:1.

Everything here is dependency-free stdlib so it runs inside executor-side
pandas UDFs and in the driver-side oracle with identical results.
"""

from __future__ import annotations

from urllib.parse import urlsplit

# ---------------------------------------------------------------------------
# XXH64 (pure python, bit-exact vs Spark's XxHash64 expression, seed 42)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _M64


def xxhash64(data: bytes | str, seed: int = 42) -> int:
    """XXH64 of ``data`` as a *signed* 64-bit int, matching Spark's
    ``F.xxhash64`` (which hashes the UTF-8 bytes with default seed 42)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    seed &= _M64
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    # Spark returns LongType (signed)
    return h - (1 << 64) if h >= (1 << 63) else h


# ---------------------------------------------------------------------------
# Canonicalization
# ---------------------------------------------------------------------------

_DEFAULT_PORTS = {"http": "80", "https": "443", "ws": "80", "wss": "443",
                  "ftp": "21"}
_HEX = "0123456789ABCDEF"
_HEXDIGITS = set("0123456789abcdefABCDEF")
# RFC 3986 unreserved characters — safe to percent-DEcode
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~")
# characters we leave literal in each component (everything else gets encoded)
_PATH_SAFE = _UNRESERVED | set("!$&'()*+,;=:@/%")
_QUERY_SAFE = _PATH_SAFE | set("?")
_FRAG_SAFE = _QUERY_SAFE | set("#")  # '#' can't actually appear but be lenient


def _pct_normalize(s: str, safe: set) -> str:
    """Normalize percent-encoding in one URL component:
    decode unreserved %XX, uppercase kept %XX, encode stray '%' (not followed
    by two hex digits) as %25, and encode characters outside ``safe``."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%":
            if i + 2 < n:
                h1, h2 = s[i + 1], s[i + 2]
            elif i + 2 == n:
                h1, h2 = s[i + 1], ""
            else:
                h1 = h2 = ""
            if h1 in _HEXDIGITS and h2 in _HEXDIGITS:
                byte = int(h1 + h2, 16)
                ch = chr(byte)
                if byte < 0x80 and ch in _UNRESERVED:
                    out.append(ch)
                else:
                    out.append("%" + h1.upper() + h2.upper())
                i += 3
                continue
            # stray percent sign → %25 (WithPercentEncodeSinglePercentSign)
            out.append("%25")
            i += 1
            continue
        if c in safe:
            out.append(c)
        else:
            out.append("".join("%%%c%c" % (_HEX[b >> 4], _HEX[b & 15])
                               for b in c.encode("utf-8")))
        i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    output: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if output:
                output.pop()
        elif path == "/..":
            path = "/"
            if output:
                output.pop()
        elif path in (".", ".."):
            path = ""
        else:
            if path.startswith("/"):
                j = path.find("/", 1)
            else:
                j = path.find("/")
            if j == -1:
                output.append(path)
                path = ""
            else:
                output.append(path[:j])
                path = path[j:]
    return "".join(output)


def _strip_url_whitespace(raw: str) -> str:
    """WHATWG URL §4.2: strip leading/trailing C0 controls + space, remove
    ASCII tab and newline anywhere (the reference's fixture server exercises
    tabs/newlines inside hrefs, roddy_httptestserver.go:159-173)."""
    start, end = 0, len(raw)
    while start < end and ord(raw[start]) <= 0x20:
        start += 1
    while end > start and ord(raw[end - 1]) <= 0x20:
        end -= 1
    s = raw[start:end]
    if "\t" in s or "\n" in s or "\r" in s:
        s = s.replace("\t", "").replace("\n", "").replace("\r", "")
    return s


def canonicalize_url(raw: str | None) -> str | None:
    """Canonical (normalized) form of an absolute http(s) URL, or None if the
    URL is unparseable / not absolute http(s).

    Normalizations applied (all standard RFC 3986 / WHATWG):
      lowercase scheme + host; drop default port; remove-dot-segments;
      empty path → "/"; percent-encoding normalized per component; stray
      '%' → %25; whitespace stripped per WHATWG. Fragment KEPT (the
      reference normalizes with ``Href(false)``, i.e. fragment included).
    """
    if raw is None:
        return None
    s = _strip_url_whitespace(raw)
    if not s:
        return None
    try:
        parts = urlsplit(s)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = parts.hostname
    if not host:
        return None
    # INTENTIONAL normalization (diverges from WHATWG, which preserves
    # trailing dots): 'example.com.' is the same origin as 'example.com'
    # for crawl-dedup purposes, and stripping ALL trailing dots keeps the
    # canonical form a fixed point (strip-one would make 'a..' → 'a.' → 'a'
    # non-idempotent). Golden-pinned in test_urlkernel.py.
    host = host.lower().rstrip(".")
    if not host:
        return None
    if not host.isascii():
        # WHATWG punycodes unicode hosts (IDNA); stdlib codec covers the
        # common cases — unencodable labels fall back to the lowercased form
        try:
            host = host.encode("idna").decode("ascii")
        except UnicodeError:
            pass
    try:
        port = parts.port  # validates numeric range
    except ValueError:
        return None
    if ":" in host:
        # IPv6 literal: parts.hostname strips the brackets — re-bracket or
        # the port would be unparseable on re-parse ('http://::1:8080/')
        host = f"[{host}]"
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    userinfo = ""
    if parts.username:
        userinfo = parts.username
        if parts.password:
            userinfo += ":" + parts.password
        netloc = userinfo + "@" + netloc
    path = _pct_normalize(parts.path, _PATH_SAFE)
    path = _remove_dot_segments(path)
    if not path:
        path = "/"
    out = f"{scheme}://{netloc}{path}"
    if parts.query:
        out += "?" + _pct_normalize(parts.query, _QUERY_SAFE)
    if parts.fragment:
        out += "#" + _pct_normalize(parts.fragment, _FRAG_SAFE)
    return out


def resolve_url(base: str | None, href: str | None) -> str | None:
    """Resolve ``href`` against ``base`` and canonicalize; returns None for
    pure-fragment links (dropped before resolution per request.go:62-64),
    empty hrefs, or unresolvable inputs. ``base`` should already be canonical
    (or at least absolute); honors ``<base href>`` when the caller passes the
    page's effective base (roddy.go:507-516)."""
    if href is None:
        return None
    h = _strip_url_whitespace(href)
    if not h or h.startswith("#"):
        return None
    # absolute already?
    low = h.lower()
    if low.startswith("http://") or low.startswith("https://"):
        return canonicalize_url(h)
    if ":" in h.split("/", 1)[0].split("?", 1)[0].split("#", 1)[0]:
        # other scheme (mailto:, javascript:, data:, ...) → not crawlable
        if not h.startswith("//"):
            return None
    if base is None:
        return None
    b = canonicalize_url(base)
    if b is None:
        return None
    bp = urlsplit(b)
    if h.startswith("//"):
        return canonicalize_url(f"{bp.scheme}:{h}")
    if h.startswith("/"):
        return canonicalize_url(f"{bp.scheme}://{bp.netloc}{h}")
    if h.startswith("?"):
        return canonicalize_url(f"{bp.scheme}://{bp.netloc}{bp.path}{h}")
    # relative path: merge per RFC 3986 §5.3
    base_dir = bp.path.rsplit("/", 1)[0] if "/" in bp.path else ""
    return canonicalize_url(f"{bp.scheme}://{bp.netloc}{base_dir}/{h}")


# ---------------------------------------------------------------------------
# Vectorized fast path (pandas Series) — the 100 TB hot kernel
# ---------------------------------------------------------------------------
# The scalar canonicalizer costs ~20 µs/URL of pure Python; at 10^10 frontier
# URLs that is the single largest CPU line in the engine. Almost all URLs a
# crawl sees are ALREADY canonical (they were emitted by this same kernel one
# level earlier), so a strict RE2 grammar — evaluated in C by pyarrow.compute,
# measured ~20x faster than pandas' per-row sre on frontier URL shapes —
# detects "canonicalize would be the identity" and passes those rows through
# untouched; only the messy residue pays the scalar path. Three layers:
#   * FAST (_FAST_RE2): identity on already-canonical URLs;
#   * SEMI-fast (_SEMI_RE2): a vectorized rewrite, accepted only when its
#     output re-matches _FAST_RE2;
#   * scalar: everything else.
# RE2 has no lookaheads, so one guard replaces the dot-segment assertion:
# a C-speed substring scan for "/." (broader than a dot-segment test) sends
# every row containing it to the scalar kernel, and every vectorized
# matcher below assumes and requires that guard. RE2's $ is end-of-text
# (Python's \Z), so a trailing newline cannot sneak past it.
#
# The fast grammar is deliberately conservative: any false NEGATIVE only
# costs speed, while a false POSITIVE would be a wrong answer — so it
# admits only URLs where every normalization step provably no-ops:
#   * lowercase http/https scheme, lowercase ASCII host, no userinfo,
#     no trailing dot (host ends alnum), no IDNA needed (ASCII classes);
#   * no port, or a 1-4 digit non-default port without leading zeros
#     (not-80/not-443 is enumerated as alternatives in _PORT_RE2);
#   * non-empty path of RFC 3986 path-safe chars, no '%' (nothing to
#     percent-normalize);
#   * non-empty query/fragment if the '?'/'#' delimiter is present at all
#     (canonicalize drops empty ones);
#   * no whitespace/controls anywhere (not in any class).
# Equivalence with the scalar kernel on ARBITRARY input is pinned by
# tests/test_properties.py (vectorized == scalar, elementwise).
_SEG = r"A-Za-z0-9\-._~!$&'()*+,;=:@"
_PORT_RE2 = (r"(?::(?:[1-9]|8[1-9]|[1-79][0-9]"            # 1-2 digits ≠ 80
             r"|4(?:4[0-24-9]|[0-35-9][0-9])|[1-35-9][0-9]{2}"  # 3 ≠ 443
             r"|[1-9][0-9]{3}))?")                         # 4 digits
_FAST_RE2 = (r"^https?://[a-z0-9](?:[a-z0-9.-]*[a-z0-9])?"
             + _PORT_RE2
             + rf"/[{_SEG}/]*(?:\?[{_SEG}/?]+)?(?:#[{_SEG}/?]+)?$")
# SEMI-fast form (r7): URLs that are canonical except for the three
# normalizations a de-canonicalized-but-clean URL needs — scheme/host case
# folding, default-port drop, empty-path → "/". The grammar admits only
# inputs where every OTHER kernel step provably no-ops (ASCII host chars,
# no userinfo/IPv6/percent/whitespace; digit-only port), the three fixes
# are applied with vectorized string ops, and the CANDIDATE is accepted
# only if it re-matches _FAST_RE2 — so a composition this grammar got
# wrong (trailing host dot, 5-digit or zero-padded port, empty query,
# http:443) falls back to the scalar kernel instead of producing a wrong
# answer. This is the hot frontier shape: candidate URLs arrive with
# shouty schemes/hosts but clean paths. Two groups: the whole authority
# prefix (scheme://host[:port] — lowercasing it is exactly scheme+host
# folding, digits unaffected), and the rest.
_SEMI_RE2 = (r"^(?P<pre>[Hh][Tt][Tt][Pp][Ss]?://[A-Za-z0-9.-]+"
             r"(?::[0-9]{1,5})?)"
             rf"(?P<rest>[/?#][{_SEG}/?#]*)?$")
# href fast-path grammars for resolve_series: root-relative (a leading "/"
# followed by nothing or a non-slash segment char, i.e. not "//") and
# plain relative (path segments only: no scheme colon, query or
# fragment); origin (scheme://host[:port]) and directory (…through the
# last path '/') of an already-fast-canonical base — both total on
# fast-canonical input
_ROOTREL_RE2 = (rf"^/(?:[{_SEG}][{_SEG}/]*)?"
                rf"(?:\?[{_SEG}/?]+)?(?:#[{_SEG}/?]+)?$")
_REL_RE2 = (r"^[A-Za-z0-9\-._~!$&'()*+,;=@]+"
            r"(?:/[A-Za-z0-9\-._~!$&'()*+,;=@]*)*$")
_ORIGIN_RE2 = r"^(?P<o>https?://[^/?#]+)"
_BASEDIR_RE2 = r"^(?P<d>https?://[^?#]*/)"


def canonicalize_series(urls):
    """Vectorized ``canonicalize_url`` over a pandas Series (elementwise
    identical to the scalar kernel): fast path = identity on
    already-canonical URLs; semi-fast path = vectorized case-fold /
    default-port / root-path fix, verified against the canonical regex;
    slow path = the scalar kernel."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    s = urls.astype("object")
    arr = pa.array(s, type=pa.string(), from_pandas=True)
    # rows containing "/." anywhere (dot segments and their lookalikes)
    # always take the scalar kernel; everything vectorized below assumes
    # and requires this guard
    nodot = pc.invert(pc.fill_null(pc.match_substring(arr, "/."), True))
    fast = pc.and_(nodot,
                   pc.fill_null(pc.match_substring_regex(arr, _FAST_RE2),
                                False))
    out = s.copy()  # deep by default — the mask below must not touch s
    fast_np = fast.to_numpy(zero_copy_only=False).astype(bool)
    out[~fast_np] = None
    rem = ~fast_np & s.notna().values
    idx = np.flatnonzero(rem & nodot.to_numpy(zero_copy_only=False)
                         .astype(bool))
    if len(idx):
        # semi-fast rewrite on the residue only: lowercase the authority
        # (digits unaffected), drop the scheme's default port (anchored
        # whole-string rewrites — a zero-padded ':080' or a host merely
        # ending in '80' can't match), root an empty path, then accept
        # ONLY candidates that re-match the canonical grammar
        sub = arr.take(pa.array(idx))
        ext = pc.extract_regex(sub, _SEMI_RE2)
        pre = pc.ascii_lower(pc.struct_field(ext, "pre"))
        pre = pc.replace_substring_regex(
            pre, r"^(http://[a-z0-9.-]+):80$", r"\1")
        pre = pc.replace_substring_regex(
            pre, r"^(https://[a-z0-9.-]+):443$", r"\1")
        rest = pc.fill_null(pc.struct_field(ext, "rest"), "")
        needslash = pc.or_(pc.equal(rest, ""),
                           pc.or_(pc.starts_with(rest, "?"),
                                  pc.starts_with(rest, "#")))
        slash = pc.if_else(needslash, pa.scalar("/"), pa.scalar(""))
        # the prefix rewrite cannot create or remove a "/." (the
        # authority has no '/' past "://" and the inserted "/" only
        # ever precedes '?' or '#'), so the nodot guard still holds
        cand = pc.binary_join_element_wise(
            pc.fill_null(pre, ""), slash, rest, "")
        ok = pc.fill_null(pc.match_substring_regex(cand, _FAST_RE2), False)
        ok_np = ok.to_numpy(zero_copy_only=False).astype(bool)
        hit_idx = idx[ok_np]
        if len(hit_idx):
            out.iloc[hit_idx] = cand.take(
                pa.array(np.flatnonzero(ok_np))).to_pylist()
            rem[hit_idx] = False
    if rem.any():
        sidx = np.flatnonzero(rem)
        vals = s.values
        out.iloc[sidx] = [canonicalize_url(vals[i]) for i in sidx]
    return out


def resolve_series(base, href):
    """Vectorized ``resolve_url`` over aligned pandas Series (elementwise
    identical to the scalar kernel).

    Fast paths (all verified by re-matching the JOINED string against the
    canonical regex, so a rule that composed wrongly falls back to slow):
      * href already fast-canonical absolute → itself;
      * fast-canonical base + root-relative href → origin(base) + href;
      * fast-canonical base + plain relative href → basedir(base) + href.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    h = href.astype("object")
    b = base.astype("object")
    ha = pa.array(h, type=pa.string(), from_pandas=True)
    ba = pa.array(b, type=pa.string(), from_pandas=True)
    out = pd.Series([None] * len(h), index=h.index, dtype="object")

    def _np(mask):
        return pc.fill_null(mask, False).to_numpy(
            zero_copy_only=False).astype(bool)

    # same guard scheme as canonicalize_series: a C-speed substring scan
    # for "/." replaces the backtracking dot-segment lookahead; any row
    # whose JOINED string contains it falls to the scalar kernel
    nodot_h = pc.invert(pc.fill_null(pc.match_substring(ha, "/."), True))

    # absolute & already canonical → identity (base irrelevant)
    m_abs = _np(pc.and_(nodot_h, pc.match_substring_regex(ha, _FAST_RE2)))
    out[m_abs] = h[m_abs]
    done = m_abs.copy()

    base_fast = _np(pc.and_(
        pc.invert(pc.fill_null(pc.match_substring(ba, "/."), True)),
        pc.match_substring_regex(ba, _FAST_RE2)))

    def _join_fast(mask, extract_re, field):
        """origin/basedir(base) + href for the masked rows; accept only
        joins that re-match the canonical grammar (and carry no '/.')."""
        idx = np.flatnonzero(mask)
        if not len(idx):
            return
        take = pa.array(idx)
        prefix = pc.struct_field(
            pc.extract_regex(ba.take(take), extract_re), field)
        joined = pc.binary_join_element_wise(
            pc.fill_null(prefix, ""), ha.take(take), "")
        ok = _np(pc.and_(
            pc.match_substring_regex(joined, _FAST_RE2),
            pc.invert(pc.fill_null(pc.match_substring(joined, "/."),
                                   True))))
        hit = idx[ok]
        if len(hit):
            out.iloc[hit] = joined.take(
                pa.array(np.flatnonzero(ok))).to_pylist()
            done[hit] = True

    # root-relative, then plain relative, against a canonical base
    _join_fast(~done & base_fast
               & _np(pc.match_substring_regex(ha, _ROOTREL_RE2)),
               _ORIGIN_RE2, "o")
    _join_fast(~done & base_fast
               & _np(pc.match_substring_regex(ha, _REL_RE2)),
               _BASEDIR_RE2, "d")

    slow = ~done & h.notna().values
    if slow.any():
        bv, hv = b.values, h.values
        sidx = np.flatnonzero(slow)
        out.iloc[sidx] = [resolve_url(bv[i], hv[i]) for i in sidx]
    return out


def url_host(url: str | None) -> str | None:
    """Hostname of a canonical URL (reference roddy.go:259 feeds this to the
    exact-equality domain filters)."""
    if url is None:
        return None
    try:
        return urlsplit(url).hostname
    except ValueError:
        return None


def url_hash(url_norm: str | None) -> int | None:
    """Visited-set key: xxhash64(utf8(url_norm), seed=42) — identical to
    Spark's ``F.xxhash64(col)`` on the same string."""
    if url_norm is None:
        return None
    return xxhash64(url_norm)
