"""HTML article extraction (V2-V5, SURVEY.md §2.5) — legacy text path.

Reference: /root/reference/src/article/extractor.py:106-194 (BeautifulSoup
selector cascades) and src/article/validator.py:77-153. The graft axis
replaces the HTML payload with image+caption pairs (payload/validate.py),
but the text path is kept for reference parity: same cascade ORDER, same
fallbacks, same cleaning rules.

The sandbox has no bs4/lxml, so selection is a small regex engine covering
exactly the selector shapes the reference uses: tag name, ``.class``,
``[attr='v']``, ``meta[...]`` (content attribute), ``time[datetime]`` and
one-level descendant (``article h1``). Runs inside pandas UDF batches.
"""

from __future__ import annotations

import html as _htmllib
import re

MIN_CONTENT_LENGTH = 100  # validator.py:23

TITLE_SELECTORS = ["h1", "article h1", ".headline", ".article-title",
                   "[itemprop='headline']", "meta[property='og:title']"]
AUTHOR_SELECTORS = ["[itemprop='author']", ".author-name", ".byline",
                    ".article-author", "meta[name='author']", "[rel='author']"]
DATE_SELECTORS = ["time[datetime]", "[itemprop='datePublished']",
                  ".publish-date", ".article-date",
                  "meta[property='article:published_time']"]
CONTENT_SELECTORS = ["[itemprop='articleBody']", "article .content",
                     ".article-body", ".article-content", ".post-content",
                     ".entry-content", ".story-body", "article"]
REMOVE_SELECTORS = ["script", "style", "nav", "header", "footer", "aside",
                    ".advertisement", ".ad", ".ads", ".social-share",
                    ".related-articles", ".comments", ".comment-section",
                    ".newsletter", ".subscription", "iframe", "form"]
_VOID_TAGS = {"meta", "time"}


def _clean_text(text: str) -> str:
    """extractor.py:98-104: collapse whitespace + strip."""
    return re.sub(r"\s+", " ", text).strip()


def _strip_tags(fragment: str) -> str:
    return _htmllib.unescape(re.sub(r"<[^>]+>", " ", fragment))


def _find_element(html: str, selector: str) -> tuple[str, dict] | None:
    """Return (inner_or_empty, attrs) of the first match, or None."""
    selector = selector.strip()
    if " " in selector and not selector.startswith("["):
        outer_sel, inner_sel = selector.split(None, 1)
        outer = _find_element(html, outer_sel)
        if outer is None:
            return None
        return _find_element(outer[0], inner_sel)

    if selector.startswith("."):
        cls = re.escape(selector[1:])
        pat = rf"<(\w+)([^>]*\bclass\s*=\s*[\"'][^\"']*\b{cls}\b[^\"']*[\"'][^>]*)>"
    elif selector.startswith("["):
        m = re.match(r"\[(\w[\w-]*)(?:=['\"]?([^'\"\]]*)['\"]?)?\]", selector)
        attr, val = m.group(1), m.group(2)
        if val is None:
            pat = rf"<(\w+)([^>]*\b{attr}\s*=[^>]*)>"
        else:
            pat = rf"<(\w+)([^>]*\b{attr}\s*=\s*[\"']{re.escape(val)}[\"'][^>]*)>"
    else:
        tag_m = re.match(r"(\w+)(\[(\w[\w-]*)(?:=['\"]?([^'\"\]]*)['\"]?)?\])?$", selector)
        tag, _, attr, val = tag_m.groups()
        if attr is None:
            pat = rf"<({tag})\b([^>]*)>"
        elif val is None:
            pat = rf"<({tag})\b([^>]*\b{attr}\s*=[^>]*)>"
        else:
            pat = rf"<({tag})\b([^>]*\b{attr}\s*=\s*[\"']{re.escape(val)}[\"'][^>]*)>"

    m = re.search(pat, html, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    tag_name = m.group(1).lower()
    attrs_str = m.group(2) or ""
    attrs = dict(re.findall(r"(\w[\w-]*)\s*=\s*[\"']([^\"']*)[\"']", attrs_str))
    if tag_name in _VOID_TAGS and f"</{tag_name}" not in html[m.end():m.end() + 200]:
        return "", attrs
    end = _matching_close(html, tag_name, m.end())
    inner = html[m.end():end] if end is not None else html[m.end():]
    return inner, attrs


def _matching_close(html: str, tag: str, start: int) -> int | None:
    """Index of the close tag matching the open tag that ended at ``start``,
    depth-aware (nested same-name tags don't truncate the element)."""
    tok = re.compile(rf"<(/?){tag}\b[^>]*?(/?)>", re.IGNORECASE | re.DOTALL)
    depth = 1
    for m in tok.finditer(html, start):
        if m.group(1):  # close tag
            depth -= 1
            if depth == 0:
                return m.start()
        elif not m.group(2):  # open tag (self-closing doesn't nest)
            depth += 1
    return None


def extract_title(html: str) -> str:
    """extractor.py:106-124: cascade → <title> fallback → 'Untitled'."""
    for sel in TITLE_SELECTORS:
        hit = _find_element(html, sel)
        if hit is None:
            continue
        inner, attrs = hit
        if sel.startswith("meta"):
            if attrs.get("content"):
                return _clean_text(attrs["content"])
        else:
            text = _clean_text(_strip_tags(inner))
            if text:
                return text
    t = _find_element(html, "title")
    if t is not None:
        text = _clean_text(_strip_tags(t[0]))
        if text:
            return text
    return "Untitled"


def extract_author(html: str) -> str | None:
    """extractor.py:126-139: cascade, <100 chars sanity."""
    for sel in AUTHOR_SELECTORS:
        hit = _find_element(html, sel)
        if hit is None:
            continue
        inner, attrs = hit
        if sel.startswith("meta"):
            if attrs.get("content"):
                return _clean_text(attrs["content"])
        else:
            text = _clean_text(_strip_tags(inner))
            if text and len(text) < 100:
                return text
    return None


def extract_date_iso(html: str) -> str | None:
    """extractor.py:141-163: datetime attr → content attr → text; dateutil."""
    from spark_frontier.sitemap.parser import parse_date

    for sel in DATE_SELECTORS:
        hit = _find_element(html, sel)
        if hit is None:
            continue
        inner, attrs = hit
        date_str = attrs.get("datetime") or attrs.get("content") or _clean_text(
            _strip_tags(inner)
        )
        if date_str:
            parsed = parse_date(date_str)
            if parsed is not None:
                return parsed.isoformat()
    return None


def _remove_elements(html: str, open_pat: re.Pattern) -> str:
    """Excise every element whose open tag matches, depth-aware
    (extractor.py:181-184 'decompose' semantics)."""
    out = html
    while True:
        m = open_pat.search(out)
        if not m:
            return out
        tag = m.group(1).lower()
        end = _matching_close(out, tag, m.end())
        if end is None:
            # unclosed (or self-closing style) → drop just the tag
            out = out[: m.start()] + " " + out[m.end():]
        else:
            gt = out.find(">", end)
            out = out[: m.start()] + " " + out[(gt + 1) if gt != -1 else end:]


def extract_content(html: str) -> str:
    """extractor.py:165-194: container cascade (fallback <body>), remove
    noise elements, keep p/h2/h3/h4/blockquote texts >20 chars, join with
    blank lines, whitespace-normalize."""
    container = None
    for sel in CONTENT_SELECTORS:
        hit = _find_element(html, sel)
        if hit is not None:
            container = hit[0]
            break
    if container is None:
        body = _find_element(html, "body")
        container = body[0] if body is not None else html

    for sel in REMOVE_SELECTORS:
        if sel.startswith("."):
            cls = re.escape(sel[1:])
            open_pat = re.compile(
                rf"<(\w+)[^>]*\bclass\s*=\s*[\"'][^\"']*\b{cls}\b[^\"']*[\"'][^>]*>",
                re.IGNORECASE,
            )
        else:
            open_pat = re.compile(rf"<({sel})\b[^>]*>", re.IGNORECASE)
        container = _remove_elements(container, open_pat)

    paragraphs = []
    for m in re.finditer(
        r"<(p|h2|h3|h4|blockquote)\b[^>]*>(.*?)</\1\s*>",
        container, re.IGNORECASE | re.DOTALL,
    ):
        text = _clean_text(_strip_tags(m.group(2)))
        if text and len(text) > 20:
            paragraphs.append(text)
    return _clean_text("\n\n".join(paragraphs))


def has_headline(html: str) -> bool:
    """validator.py:77-90: any headline selector or non-empty <title>."""
    for sel in TITLE_SELECTORS:
        hit = _find_element(html, sel)
        if hit is None:
            continue
        inner, attrs = hit
        if sel.startswith("meta"):
            if attrs.get("content"):
                return True
        elif _clean_text(_strip_tags(inner)):
            return True
    t = _find_element(html, "title")
    return t is not None and bool(_clean_text(_strip_tags(t[0])))


def validate_article_html(url_ok: bool, html: str) -> tuple[bool, str | None]:
    """validator.py:116-153: URL pattern ∧ headline ∧ content ≥ 100 chars."""
    if not url_ok:
        return False, "URL matches rejection pattern"
    if not has_headline(html):
        return False, "No headline found"
    if len(extract_content(html)) < MIN_CONTENT_LENGTH:
        return False, "Content too short"
    return True, None
