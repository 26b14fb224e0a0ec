"""Per-page scrape: cleaned_html, text, links, media, tables, metadata, lang.

From-scratch restatement of the reference's scraping contract
(behavioral spec: /root/reference/crawl4ai/content_scraping_strategy.py —
``WebScrapingStrategy._scrap`` :845-1097 and the LXML default variant
:1100-1864; image scoring :420-566; data-table detection :201-346; metadata
extraction utils.py:1562-1643; link intrinsic scoring utils.py:3123-3237).

Pure function of (html, url) — safe to run inside an Arrow pandas UDF.
"""

from __future__ import annotations

import re
from html import escape
from urllib.parse import urlparse

from crawl4ai_spark.functions.urlnorm import (
    get_base_domain,
    is_external_url,
    normalize_url,
)
from crawl4ai_spark.html.css_select import select
from crawl4ai_spark.html.parser import Node, parse_html

REMOVE_TAGS = ("script", "style", "link", "meta", "noscript")

# substring-matched across src/data-src/srcset/data-srcset, the
# reference's frozenset (content_scraping_strategy.py:448)
_IMG_FORMATS = ("jpg", "jpeg", "png", "webp", "avif", "gif")

_META_KEEP = frozenset({"description", "keywords", "author"})
_META_PROP_PREFIXES = ("og:", "twitter:", "article:")

# attribute whitelist kept on cleaned elements (reference config.py:50)
IMPORTANT_ATTRS = ("src", "href", "alt", "title", "width", "height")
# inline tags replaceable by their text under only_text (config.py:51-73)
ONLY_TEXT_TAGS = frozenset(
    "b i u span del ins sub sup strong em code kbd var s q abbr cite dfn "
    "time small mark".split()
)

# link-scoring signal tables (spec: reference utils.py:3123-3237)
_PUNCT = '.,!?;:"()[]{}'
_NAV_CLASSES = ("nav", "menu", "primary", "main", "important")
_AD_CLASSES = ("ad", "sponsor", "track", "promo", "banner")
_GOOD_RELS = ("canonical", "next", "prev", "chapter")
_BAD_RELS = ("nofollow", "sponsored", "ugc")
_HIGH_PATHS = ("/docs/", "/api/", "/guide/", "/tutorial/", "/reference/", "/manual/")
_MED_PATHS = ("/blog/", "/article/", "/post/", "/news/")
_BAD_PATHS = ("/admin/", "/login/", "/cart/", "/checkout/", "/track/", "/click/")
_GENERIC_LINK_TEXTS = ("click here", "read more", "more info", "link", "here")
_DOCS_DOMAIN_MARKS = ("docs.", "api.", "developer.", "reference.")
_DOC_KEYWORDS = ("api", "reference", "guide", "tutorial", "example")
_BASE64_IMG = re.compile(r'data:image/[^;]+;base64,([^"]+)')


def extract_page_context(
    page_title: str, headlines_text: str, meta_description: str, base_url: str
) -> dict:
    """Per-page term context for link scoring, computed once before any
    removals (spec: reference utils.py:3078-3121)."""
    ctx: dict = {"terms": set(), "domain": "", "is_docs_site": False}
    try:
        domain = urlparse(base_url).netloc.lower()
        ctx["domain"] = domain
        ctx["is_docs_site"] = any(m in domain for m in _DOCS_DOMAIN_MARKS)
        blob = (
            (page_title or "") + " " + (headlines_text or "") + " "
            + (meta_description or "")
        ).lower()
        ctx["terms"] = {
            w.strip(_PUNCT) for w in blob.split() if len(w.strip(_PUNCT)) > 2
        }
    except Exception:
        pass
    return ctx


def link_intrinsic_score(
    text: str, href: str, title: str, class_attr: str, rel: str,
    context: dict | None = None,
) -> float:
    """0-10 link quality score — exact restatement of the reference formula
    (utils.py:3123-3237): attribute quality + url structure + text quality +
    term-overlap relevance + docs-site bonus, clamped to [0, 10]."""
    context = context or {}
    score = 0.0
    try:
        if title and len(title.strip()) > 3:
            score += 1.0
        class_str = (class_attr or "").lower()
        if any(c in class_str for c in _NAV_CLASSES):
            score += 1.5
        if any(c in class_str for c in _AD_CLASSES):
            score -= 1.0
        rel_str = (rel or "").lower()
        if any(r in rel_str for r in _GOOD_RELS):
            score += 1.0
        if any(r in rel_str for r in _BAD_RELS):
            score -= 0.5

        url_lower = href.lower()
        if any(p in url_lower for p in _HIGH_PATHS):
            score += 2.0
        elif any(p in url_lower for p in _MED_PATHS):
            score += 1.0
        if any(p in url_lower for p in _BAD_PATHS):
            score -= 1.5
        url_depth = href.count("/") - 2
        if url_depth <= 2:
            score += 1.0
        elif url_depth > 5:
            score -= 0.5
        if href.startswith("https://"):
            score += 0.5

        if text:
            text_clean = text.strip()
            if len(text_clean) > 3:
                score += 1.0
            word_count = len(text_clean.split())
            if word_count >= 2:
                score += 0.5
            if word_count >= 4:
                score += 0.5
            if text_clean.lower() in _GENERIC_LINK_TEXTS:
                score -= 1.0

        if context.get("terms") and text:
            link_words = {
                w.strip(_PUNCT).lower()
                for w in text.split()
                if len(w.strip(_PUNCT)) > 2
            }
            if link_words:
                overlap = len(link_words & context["terms"])
                if overlap > 0:
                    score += overlap / min(len(link_words), 10) * 2.0

        if context.get("is_docs_site", False):
            if text and any(k in text.lower() for k in _DOC_KEYWORDS):
                score += 1.0
    except Exception:
        score = 0.5
    return max(0.0, min(score, 10.0))


_IMG_CHECK_WORDS = ("button", "icon", "logo")


def image_excluded(node: Node) -> bool:
    """The reference's quick-validation block (content_scraping_strategy
    .py:463-470): an image is dropped BEFORE scoring when its style hides
    it, its parent is a button/input, or 'button'/'icon'/'logo' appears in
    src or alt. The parent-class leg preserves the reference's REVERSED
    containment quirk — it tests each parent class string as a substring
    OF the check words ('b' in 'button'), not the other way around."""
    style = node.attrs.get("style") or ""
    alt = node.attrs.get("alt") or ""
    src = node.attrs.get("src") or ""
    parent = node.parent
    parent_tag = parent.tag if parent is not None else ""
    parent_classes = parent.classes() if parent is not None else []
    return (
        "display:none" in style
        or parent_tag in ("button", "input")
        or any(c in w for c in parent_classes for w in _IMG_CHECK_WORDS)
        or any(w in src for w in _IMG_CHECK_WORDS)
        or any(w in alt for w in _IMG_CHECK_WORDS)
    )


def score_image(node: Node, index: int, total: int) -> int:
    """Image usefulness score, reference-exact (content_scraping_strategy
    .py:453-505): +1 per dimension that is all-digits and > 150 (a
    non-numeric height does not void a numeric width), +1 truthy alt, +1
    first half of the page, +1 when any of src/data-src/srcset/data-srcset
    CONTAINS a known format substring, +1 when srcset/data-srcset is
    present, +1 when ANY ancestor is <picture>."""
    score = 0
    w = node.attrs.get("width")
    h = node.attrs.get("height")
    if w and w.isdigit() and int(w) > 150:
        score += 1
    if h and h.isdigit() and int(h) > 150:
        score += 1
    if node.attrs.get("alt"):
        score += 1
    if total > 0 and index / total < 0.5:
        score += 1
    sources = [
        (node.attrs.get(k) or "").lower()
        for k in ("src", "data-src", "srcset", "data-srcset")
    ]
    if any(fmt in s for s in sources for fmt in _IMG_FORMATS):
        score += 1
    if node.attrs.get("srcset") or node.attrs.get("data-srcset"):
        score += 1
    anc = node.parent
    while anc is not None:
        if anc.tag == "picture":
            score += 1
            break
        anc = anc.parent
    return score


def is_data_table(table: Node) -> tuple[float, list[Node]]:
    """Data-table score, reference-exact (content_scraping_strategy.py
    :201-273, threshold 7): thead +2, tbody +1, th +2 (+1 extra when in a
    thead or a first-child tr), nested table −3, role presentation/none
    −3, column-count variance < 1 +2, caption +2, non-empty summary +1,
    text/tag density > 20 +3 (> 10 +2), +0.5 per data-* attribute,
    ≥ 2 columns × ≥ 2 rows +2. Returns (score, body_rows); a table with
    no rows scores −inf (the reference returns False outright). Cell text
    length uses ``raw_text()`` — the exact analog of bs4 get_text(), so
    whitespace-heavy cells measure identically."""
    score = 0.0
    has_thead = table.find("thead") is not None
    if has_thead:
        score += 2
    if table.find("tbody") is not None:
        score += 1
    ths = table.find_all("th")
    if ths:
        score += 2
        first_tr_th = False
        # bs4 'tr:first-child th': a th inside a tr that is the first
        # element child of its parent
        for th in ths:
            tr = th.parent
            while tr is not None and tr.tag != "tr":
                tr = tr.parent
            if tr is not None and tr.parent is not None:
                sibs = [c for c in tr.parent.children if not c.is_text]
                if sibs and sibs[0] is tr:
                    first_tr_th = True
                    break
        if has_thead or first_tr_th:
            score += 1
    if len(table.find_all("table")) > 1:  # iter() includes self
        score -= 3
    if (table.attrs.get("role") or "").lower() in ("presentation", "none"):
        score -= 3
    rows = table.find_all("tr")
    body_rows = [r for r in rows if r.find("td") is not None]
    if not rows:
        return float("-inf"), body_rows
    col_counts = [len(r.find_all("td", "th")) for r in rows]
    avg_cols = sum(col_counts) / len(col_counts)
    variance = sum((c - avg_cols) ** 2 for c in col_counts) / len(col_counts)
    if variance < 1:
        score += 2
    if table.find("caption") is not None:
        score += 2
    if table.attrs.get("summary"):
        score += 1
    total_text = sum(
        len(cell.raw_text().strip()) for r in rows for cell in r.find_all("td", "th")
    )
    total_tags = sum(1 for _ in table.iter()) - 1  # descendants, excl. self
    if total_text / (total_tags + 1e-5) > 20:
        score += 3
    elif total_text / (total_tags + 1e-5) > 10:
        score += 2
    score += 0.5 * sum(1 for k in table.attrs if k.startswith("data-"))
    if avg_cols >= 2 and len(rows) >= 2:
        score += 2
    return score, body_rows


def extract_table(table: Node) -> dict:
    headers = [th.text() for th in table.find_all("th")]
    rows = []
    for tr in table.find_all("tr"):
        cells = [td.text() for td in tr.find_all("td")]
        if cells:
            rows.append(cells)
    cap = table.find("caption")
    return {
        "headers": headers,
        "rows": rows,
        "caption": cap.text() if cap is not None else "",
    }


def extract_metadata(root: Node) -> dict[str, str]:
    meta: dict[str, str] = {}
    title = root.find("title")
    if title is not None:
        meta["title"] = title.text()
    for m in root.find_all("meta"):
        name = (m.attrs.get("name") or "").lower()
        prop = (m.attrs.get("property") or "").lower()
        content = m.attrs.get("content") or ""
        if name in _META_KEEP:
            meta[name] = content
        elif prop and prop.startswith(_META_PROP_PREFIXES):
            meta[prop] = content
    return meta


def _flatten_same_tag(node: Node) -> None:
    """Collapse single-child same-tag nesting (<div><div>x</div></div> →
    <div>x</div>), bottom-up (spec: content_scraping_strategy.py:348-367)."""
    for child in list(node.children):
        if not child.is_text:
            _flatten_same_tag(child)
    while (
        not node.is_text
        and len(node.children) == 1
        and not node.children[0].is_text
        and node.children[0].tag == node.tag
    ):
        inner = node.children[0]
        node.attrs = inner.attrs
        node.children = inner.children
        for c in node.children:
            c.parent = node


def _squeeze(s: str) -> str:
    """The cleaned_html whitespace squeeze (one left-to-right pass each)."""
    return s.replace("\n\n", "\n").replace("  ", " ")


def _normalize_cleaned(body: Node) -> Node | None:
    """Rewrite ``body`` in place into the tree ``parse_html(cleaned_html)``
    builds: a detached ``#root`` whose adjacent text runs are merged, whose
    text runs and attribute values carry the squeeze, whose first and last
    top-level runs carry the ``strip``, and whose ``script``/``style`` text
    is the escaped form the tokenizer reads back as CDATA. The squeeze and
    the strip never reach across a tag, so applying them per run equals
    applying them to the serialized string.

    Returns None when the tree cannot stand for cleaned_html: a tag name
    ending in a Unicode space ('b\xa0') is read back from ``</b\xa0>`` as
    the end tag 'b', which re-nests what follows."""
    replayable = True
    body.tag = "#root"
    body.attrs = {}
    if body.parent is not None:
        body.parent.children.remove(body)
        body.parent = None
    for el in body.iter():
        merged: list[Node] = []
        prev = None
        for c in el.children:
            if c.tag != "#text":
                merged.append(c)
                prev = None
            elif prev is None:
                merged.append(c)
                prev = c
            else:
                prev.attrs["text"] += c.attrs["text"]
        el.children = merged
        if el.tag[-1].isspace():
            replayable = False
        cdata = el.tag == "script" or el.tag == "style"
        for c in merged:
            if c.tag == "#text":
                t = _squeeze(c.attrs["text"])
                c.attrs["text"] = escape(t, quote=False) if cdata else t
        for k, v in el.attrs.items():
            if v and ("\n\n" in v or "  " in v):
                el.attrs[k] = _squeeze(v)
    kids = body.children
    if kids and kids[0].tag == "#text":
        kids[0].attrs["text"] = kids[0].attrs["text"].lstrip()
    if kids and kids[-1].tag == "#text":
        kids[-1].attrs["text"] = kids[-1].attrs["text"].rstrip()
    body.children = [c for c in kids if c.tag != "#text" or c.attrs["text"]]
    return body if replayable else None


class _ScrapeState:
    __slots__ = ("url", "base_domain", "page_context", "internal", "external",
                 "media_av", "opts")

    def __init__(self, url: str, base_domain: str, page_context: dict, opts: dict):
        self.url = url
        self.base_domain = base_domain
        self.page_context = page_context
        self.internal: dict[str, dict] = {}
        self.external: dict[str, dict] = {}
        self.media_av: list[dict] = []
        self.opts = opts


def _walk_element(el: Node, st: _ScrapeState) -> bool:
    """Recursive per-element pass mirroring the reference's
    ``_process_element`` (content_scraping_strategy.py:598-843): link/media
    collection, exclusion knobs, attribute whitelist, and word-count-driven
    pruning. Returns whether the element was kept."""
    opts = st.opts
    if el.tag in REMOVE_TAGS:
        el.detach()
        return False

    keep = el.tag in ("tr", "td", "th")

    if el.tag == "a" and el.attrs.get("href"):
        href = (el.attrs.get("href") or "").strip()
        # Reference QUIRK preserved (content_scraping_strategy.py:638-648):
        # a blank or unnormalizable href early-returns False WITHOUT
        # decompose — the anchor is reported "not kept" to its parent yet
        # stays in cleaned_html, and its subtree is never walked (descendant
        # links/images uncollected, attributes unpruned). The reference does
        # exactly this (its decompose tail at :827-832 is skipped by the
        # early return), so "fixing" it would break parity.
        if not href:
            return False
        try:
            norm = normalize_url(href, st.url)
        except ValueError:
            # reference :644-648 catches invalid URL formats the same way
            return False
        if not norm:
            return False
        # reference :652 records element.get_text().strip() — raw run
        # concatenation, no separator ('<b>Read</b>More' → 'ReadMore')
        link_text = el.raw_text().strip()
        link_title = (el.attrs.get("title") or "").strip()
        link_data = {
            "href": norm,
            "text": link_text,
            "title": link_title,
            "base_domain": st.base_domain,
            "intrinsic_score": link_intrinsic_score(
                link_text, norm, link_title,
                el.attrs.get("class") or "", el.attrs.get("rel") or "",
                st.page_context,
            ),
        }
        is_ext = is_external_url(norm, st.base_domain)
        keep = True
        if is_ext:
            link_base = get_base_domain(norm)
            link_data["base_domain"] = link_base
            if opts["exclude_external_links"]:
                el.detach()
                return False
            if link_base in opts["exclude_domains"]:
                el.detach()
                return False
            link_data["is_external"] = True
            if norm not in st.external:
                st.external[norm] = link_data
        else:
            if opts["exclude_internal_links"]:
                el.detach()
                return False
            link_data["is_external"] = False
            if norm not in st.internal:
                st.internal[norm] = link_data

    if el.tag == "img":
        src = el.attrs.get("src") or el.attrs.get("data-src") or el.attrs.get(
            "data-original"
        )
        if not src and el.attrs.get("srcset"):
            src = el.attrs["srcset"].split(",")[0].split(" ")[0]
        if not src:
            el.detach()
            return False
        if el.attrs.get("srcset"):
            el.attrs["src"] = el.attrs["srcset"].split(",")[0].split(" ")[0]
        src_base = get_base_domain(src)
        if src_base and src_base in opts["exclude_domains"]:
            el.detach()
            return False
        return True  # images keep all attributes

    if opts["remove_forms"] and el.tag == "form":
        el.detach()
        return False

    if el.tag in ("video", "audio"):
        srcs = [el.attrs.get("src")]
        srcs += [s.attrs.get("src") for s in el.find_all("source")]
        for s in srcs:
            st.media_av.append(
                {"src": s or "", "alt": el.attrs.get("title") or "",
                 "media_type": el.tag, "score": 0, "width": None, "height": None}
            )
        return True

    if el.tag in ONLY_TEXT_TAGS and opts["only_text"] and el.parent is not None:
        # replace the element with its text content
        idx = el.parent.children.index(el)
        el.parent.children[idx] = Node("#text", {"text": el.raw_text()}, el.parent)
        return True

    if opts["prune_attrs"]:
        kept_attrs = {
            k: v
            for k, v in el.attrs.items()
            if k in opts["important_attrs"]
            or (opts["keep_data_attributes"] and k.startswith("data-"))
        }
        el.attrs = kept_attrs

    for child in list(el.children):
        if child.is_text:
            if child.attrs["text"].strip():
                keep = True
        elif _walk_element(child, st):
            keep = True

    if not keep:
        keep = el.word_count() >= st.opts["word_count_threshold"]
    if not keep:
        el.detach()
    return keep


def scrape_page(html: str, url: str, *args, **kwargs) -> dict:
    """Full scrape of one page → dict matching SCRAPE_RESULT_STRUCT.

    Config surface mirrors the reference's ``WebScrapingStrategy._scrap``
    (content_scraping_strategy.py:845-1097): excluded_tags / CSS-selector
    removal, attribute whitelist (IMPORTANT_ATTRS + keep_attrs), word-count
    pruning, link/image exclusion knobs, nested same-tag flattening, base64
    image stripping. ``prune_attrs=False`` preserves all attributes (useful
    when a downstream class-aware filter runs on cleaned_html)."""
    return _scrape(html, url, *args, **kwargs)[0]


def _scrape_tree(html: str, url: str, **kwargs) -> tuple[dict, Node | None]:
    """(scrape dict, tree): ``scrape_page`` plus its cleaned tree,
    normalized in place into the ``#root`` that ``parse_html(cleaned_html)``
    would build, so later stages can walk it instead of tokenizing
    ``cleaned_html`` again. The tree is None for the rare page it cannot
    stand for (see ``_normalize_cleaned``)."""
    scraped, body = _scrape(html, url, **kwargs)
    return scraped, _normalize_cleaned(body)


def _scrape(
    html: str,
    url: str,
    table_score_threshold: int = 7,
    image_score_threshold: int = 2,
    *,
    word_count_threshold: int = 1,
    excluded_tags: list[str] | None = None,
    excluded_selector: str | None = None,
    keep_attrs: list[str] | None = None,
    keep_data_attributes: bool = False,
    prune_attrs: bool = True,
    exclude_external_links: bool = False,
    exclude_internal_links: bool = False,
    exclude_domains: list[str] | None = None,
    exclude_all_images: bool = False,
    remove_forms: bool = False,
    only_text: bool = False,
) -> tuple[dict, Node]:
    """(scrape dict, body): the body node is what cleaned_html serializes."""
    try:
        root = parse_html(html or "")
    except Exception:
        root = Node("#root")

    html_el = root.find("html")
    lang = (html_el.attrs.get("lang") or "") if html_el is not None else ""

    metadata = extract_metadata(root)  # before <meta> removal
    base_domain = get_base_domain(url)
    headlines = " ".join(
        t for h in root.find_all("h1", "h2", "h3") if (t := h.text().strip())
    )
    page_context = extract_page_context(
        metadata.get("title", ""), headlines, metadata.get("description", ""), url
    )

    body = root.find("body") or root

    if exclude_all_images:
        body.remove_tags("img")
    if excluded_tags:
        body.remove_tags(*excluded_tags)
    if excluded_selector:
        for el in select(body, excluded_selector):
            el.detach()

    st = _ScrapeState(
        url, base_domain, page_context,
        {
            "word_count_threshold": word_count_threshold,
            "important_attrs": frozenset(IMPORTANT_ATTRS) | frozenset(keep_attrs or ()),
            "keep_data_attributes": keep_data_attributes,
            "prune_attrs": prune_attrs,
            "exclude_external_links": exclude_external_links,
            "exclude_internal_links": exclude_internal_links,
            "exclude_domains": frozenset(exclude_domains or ()),
            "remove_forms": remove_forms,
            "only_text": only_text,
        },
    )
    for child in list(body.children):
        if not child.is_text:
            _walk_element(child, st)
    links = list(st.internal.values()) + list(st.external.values())

    # -- media (surviving images, scored; then video/audio) -------------------
    media: list[dict] = []
    imgs = body.find_all("img")
    for i, img in enumerate(imgs):
        # reference quick-validation: hidden / button-parented /
        # logo-icon-button images never reach scoring
        if image_excluded(img):
            continue
        score = score_image(img, i, len(imgs))
        # reference drops score <= threshold (strict keep-above)
        if score <= image_score_threshold:
            continue

        def _int(v):
            try:
                return int(v)
            except (TypeError, ValueError):
                return None

        media.append(
            {
                "src": img.attrs.get("src") or "",
                "alt": img.attrs.get("alt") or "",
                "media_type": "image",
                "score": score,
                "width": _int(img.attrs.get("width")),
                "height": _int(img.attrs.get("height")),
            }
        )
    media += st.media_av

    # -- tables ---------------------------------------------------------------
    tables: list[dict] = []
    if "table" not in (excluded_tags or ()):
        for t in body.find_all("table"):
            score, body_rows = is_data_table(t)
            if score >= table_score_threshold and body_rows:
                tables.append(extract_table(t))

    # -- cleaned html + text --------------------------------------------------
    _flatten_same_tag(body)
    for img in body.find_all("img"):
        src = img.attrs.get("src") or ""
        if _BASE64_IMG.match(src):
            img.attrs["src"] = _BASE64_IMG.sub("", src)
    # final whitespace squeeze, mirroring the reference's cleanup pass
    # (spec content_scraping_strategy.py:1089)
    cleaned_html = _squeeze(body.serialize_children().strip())
    text = body.text(separator=" ")

    return {
        "cleaned_html": cleaned_html,
        "text": text,
        "links": links,
        "media": media,
        "tables": tables,
        "metadata": metadata,
        "lang": lang,
        "success": True,
    }, body
