from pyspark.sql import functions as F

from spark_frontier.functions.urls import (
    _canonicalize_one,
    canonicalize_url,
    host_of,
    sha256_hex,
    sha256_hex_sql,
    url_key,
)


def test_canonicalize_scalar():
    assert _canonicalize_one("HTTP://Example.COM:80/a/../b/./c?q=1#frag") == (
        "http://example.com/b/c?q=1"
    )
    assert _canonicalize_one("https://example.com:443/") == "https://example.com/"
    assert _canonicalize_one("https://example.com") == "https://example.com/"
    assert _canonicalize_one("https://example.com:8443/x") == "https://example.com:8443/x"
    # percent-normalization: unreserved decoded, hex uppercased
    assert _canonicalize_one("http://e.com/%7Euser/%e2%82%ac") == (
        "http://e.com/~user/%E2%82%AC"
    )
    # RFC 3986 §6.2.2.2: reserved escapes are NOT decoded — '/p%2Fq' and
    # '/p/q' are distinct resources and must keep distinct url_keys
    assert _canonicalize_one("https://x.y/p%2Fq") == "https://x.y/p%2Fq"
    assert _canonicalize_one("https://x.y/p/q") == "https://x.y/p/q"
    assert _canonicalize_one("https://x.y/a?b=%26c%3Dd") == (
        "https://x.y/a?b=%26c%3Dd"
    )
    # §5.2.4: terminal dot-segments keep the trailing slash
    assert _canonicalize_one("https://x.y/a/b/..") == "https://x.y/a/"
    assert _canonicalize_one("https://x.y/a/.") == "https://x.y/a/"
    assert _canonicalize_one("https://x.y/..") == "https://x.y/"


def test_canonicalize_idempotent():
    urls = [
        "HTTP://Example.COM:80/a/../b/./c?q=1#frag",
        "https://news.site/article/one",
        "https://x.y/p%2Fq",
    ]
    once = [_canonicalize_one(u) for u in urls]
    twice = [_canonicalize_one(u) for u in once]
    assert once == twice


def test_spark_cols(spark):
    df = spark.createDataFrame(
        [("HTTP://Example.COM:80/a/b",), ("https://news.site/x?id=2",)], ["url"]
    )
    out = df.select(
        canonicalize_url("url").alias("canon"),
        url_key(F.col("url")).alias("key"),
        sha256_hex(F.col("url")).alias("sha"),
        F.expr(sha256_hex_sql("url")).alias("sha_sql"),
        host_of(F.col("url")).alias("host"),
    ).collect()
    assert out[0]["canon"] == "http://example.com/a/b"
    assert out[0]["host"] == "example.com"
    assert len(out[0]["sha"]) == 64
    assert isinstance(out[0]["key"], int)
    # sha256 parity with hashlib over the RAW url (repository.py:92-94)
    import hashlib

    assert out[1]["sha"] == hashlib.sha256(b"https://news.site/x?id=2").hexdigest()
    # the SQL form (the links view's derived url_hash) is the same hash
    assert [r["sha_sql"] for r in out] == [r["sha"] for r in out]


def test_key_stable_across_variants(spark):
    df = spark.createDataFrame(
        [("http://E.com/a/../b",), ("http://e.com/b",)], ["url"]
    )
    keys = [r["k"] for r in df.select(url_key(F.col("url")).alias("k")).collect()]
    assert keys[0] == keys[1]
