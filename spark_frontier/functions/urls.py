"""URL canonicalization, hashing, and host extraction.

The engine's dedup key is ``xxhash64(canonicalize(url))`` (north_rule);
the reference's SHA-256-hex-of-raw-URL key
(/root/reference/src/database/repository.py:92-94) is kept as a parity
column so the final URL-seen set can be compared byte-for-byte.

Everything that Spark can do JVM-side stays JVM-side (``xxhash64``,
``sha2``, ``parse_url`` — whole-stage codegen, no Python); only RFC 3986
normalization needs Python and runs as an Arrow-vectorized pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


_PCT_RE = None  # compiled lazily (keeps module import free of re cost)


def _norm_pct(s: str) -> str:
    """Normalize percent-escapes per RFC 3986 §6.2.2.1-2: uppercase the hex
    digits, and decode ONLY unreserved characters ([A-Za-z0-9._~-]).
    Reserved escapes (%2F, %26, %3D, ...) stay encoded — decoding them
    would collapse DISTINCT urls onto one canon_url/url_key, and a colliding
    url anti-joined as 'seen' is permanently dropped from the frontier."""
    global _PCT_RE
    if _PCT_RE is None:
        import re

        _PCT_RE = re.compile("%([0-9A-Fa-f]{2})")

    def repl(m):
        ch = chr(int(m.group(1), 16))
        if ("a" <= ch <= "z") or ("A" <= ch <= "Z") or ("0" <= ch <= "9") \
                or ch in "-._~":
            return ch
        return "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _canonicalize_one(url: str) -> str:
    """RFC 3986 syntax-based normalization.

    - lowercase scheme and host
    - drop default ports (:80 http, :443 https)
    - uppercase percent-encoding hex digits; decode unreserved chars ONLY
      (reserved escapes like %2F are preserved — RFC 3986 §6.2.2.2)
    - collapse dot-segments in the path (§5.2.4, incl. the trailing-slash
      rule: '/a/b/..' -> '/a/', not '/a')
    - empty path -> "/"
    - drop fragment
    """
    from urllib.parse import quote, urlsplit, urlunsplit

    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return url.strip()
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    if port is not None and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        host = f"{host}:{port}"
    # normalize existing escapes (decode unreserved only), then encode any
    # raw disallowed chars; '%' is in safe so normalized triplets survive
    path = quote(_norm_pct(parts.path), safe="%/:@!$&'()*+,;=~-._")
    # remove dot segments (RFC 3986 §5.2.4): a terminal '.'/'..' leaves a
    # trailing empty segment (i.e. the output keeps its trailing slash)
    segs = path.split("/")
    out: list[str] = []
    for seg in segs:
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1 and out[-1] != "":
                out.pop()
        else:
            out.append(seg)
    if segs and segs[-1] in (".", "..") and (not out or out[-1] != ""):
        out.append("")
    path = "/".join(out)
    if not path.startswith("/"):
        path = "/" + path
    query = quote(_norm_pct(parts.query), safe="%/:@!$&'()*+,;=~-._?&=")
    return urlunsplit((scheme, host, path, query, ""))


# URLs matching this are ALREADY canonical: lowercase scheme+host, no
# default-port suffix, non-empty path with no dot-segments or
# percent-escapes, no fragment. The vectorized regex check lets ~80-99% of
# real frontier URLs skip the per-URL urllib slow path entirely.
_FAST_CANONICAL = (
    r"^https?://"                      # lowercase scheme
    r"[a-z0-9](?:[a-z0-9.\-]*[a-z0-9])?"  # lowercase reg-name host
    r"(?::\d+)?"                       # explicit port (validated below)
    r"/(?:[A-Za-z0-9\-._~!$&'()*+,;=:@/]*)"  # path, no %, no ./..
    r"(?:\?[A-Za-z0-9\-._~!$&'()*+,;=:@/?&=]+)?$"  # query non-empty, no %
)


def canonicalize_url(url_col) -> Column:
    """Vectorized RFC 3986 normalization (Arrow batches, never per-row Python
    at the DataFrame level). Already-canonical URLs (the overwhelming
    majority of a sitemap frontier) are detected with one vectorized regex
    and passed through; only the rest pay the per-URL urllib path. UDF is
    constructed lazily so importing this module never requires an active
    SparkSession."""
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _canon(urls: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        # RE2-vectorized fast-path check (C++, ~10× python re per row —
        # the canonicalize UDF was the dominant per-row cost of the q01
        # frontier-dedup scan). ^...$ anchors make match_substring_regex
        # a full match, same as pandas str.match with a $-terminated
        # pattern; nulls fall to the slow path (→ None), as before.
        arr = pa.Array.from_pandas(urls)
        fast_a = pc.match_substring_regex(arr, _FAST_CANONICAL)
        # any "/."-ish segment (./ ../ trailing /. /.. /.?q) and default
        # ports go to the slow path; uppercase hosts already fail the regex
        for lit in ("/.", ":80/", ":443/"):
            fast_a = pc.and_kleene(
                fast_a, pc.invert(pc.match_substring(arr, lit))
            )
        fast = pc.fill_null(fast_a, False).to_numpy(zero_copy_only=False)
        if fast.all():
            return urls
        out = urls.copy()
        slow = ~fast
        out[slow] = urls[slow].map(
            lambda u: _canonicalize_one(u) if u is not None else None
        )
        return out

    return _canon(url_col)


def url_key(url_col: Column) -> Column:
    """Engine dedup key: xxhash64 of the canonical URL (JVM-side hash)."""
    return F.xxhash64(canonicalize_url(url_col))


def url_key_canonical(canon_col: Column) -> Column:
    """xxhash64 over an already-canonicalized column (avoids re-normalizing)."""
    return F.xxhash64(canon_col)


_SHA2_BITS = 256


def sha256_hex(url_col: Column) -> Column:
    """Reference-parity hash: SHA-256 hex of the RAW url
    (repository.py:92-94 hashes the exact string, no normalization)."""
    return F.sha2(url_col, _SHA2_BITS)


def sha256_hex_sql(url: str) -> str:
    """``sha256_hex`` as a SQL expression over the column named ``url``:
    the form a scan-time view projection stores in a manifest
    (``SnapTable.append_shared_files(columns=)``)."""
    return f"sha2({url}, {_SHA2_BITS})"


def host_of(url_col: Column) -> Column:
    """Politeness/partition key: lowercased registrable host (JVM parse_url)."""
    return F.lower(F.parse_url(url_col, F.lit("HOST")))
