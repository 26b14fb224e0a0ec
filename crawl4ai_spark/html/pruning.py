"""Fit-text pruning — EXACT restatement of the reference's
PruningContentFilter (behavioral spec:
/root/reference/crawl4ai/content_filter_strategy.py:533-777):

1. remove excluded tags (nav/footer/header/aside/script/style/form/
   iframe/noscript) and comments;
2. TOP-DOWN tree prune from <body>: each node gets a composite score
   0.4·text_density + 0.2·(1−link_density) + 0.2·tag_weight
   + 0.1·max(0, class_id_weight) + 0.1·ln(text_len+1); below the
   threshold (fixed 0.48, or the dynamic tag-importance-adjusted variant)
   the whole subtree is dropped, otherwise its children are judged;
3. survivors = body's remaining element children with non-empty text,
   serialized; the markdown stage wraps each in <div>
   (markdown_generation_strategy.py:235-239).

Reference quirks preserved: text_len counts the ''-joined stripped text
runs (no separators), link_text_len counts only DIRECT <a> children whose
content is a single string, class/id penalties apply only when the
negative pattern matches at the START of the attribute, the text-length
term is uncapped ln, and min_word_threshold counts words as
text.count(' ')+1 over the separator-less text.

Pure functions — run inside the extraction pandas UDF.
"""

from __future__ import annotations

import math
import re
from html import escape

from crawl4ai_spark.html.parser import VOID_TAGS, Node, parse_html

EXCLUDED_TAGS = (
    "nav", "footer", "header", "aside", "script", "style", "form",
    "iframe", "noscript",
)

TAG_WEIGHTS = {
    "div": 0.5, "p": 1.0, "article": 1.5, "section": 1.0, "span": 0.3,
    "li": 0.5, "ul": 0.5, "ol": 0.5, "h1": 1.2, "h2": 1.1, "h3": 1.0,
    "h4": 0.9, "h5": 0.8, "h6": 0.7,
}

TAG_IMPORTANCE = {
    "article": 1.5, "main": 1.4, "section": 1.3, "p": 1.2, "h1": 1.4,
    "h2": 1.3, "h3": 1.2, "div": 0.7, "span": 0.6,
}

METRIC_WEIGHTS = {
    "text_density": 0.4,
    "link_density": 0.2,
    "tag_weight": 0.2,
    "class_id_weight": 0.1,
    "text_length": 0.1,
}

_NEGATIVE = re.compile(
    r"nav|footer|header|sidebar|ads|comment|promo|advert|social|share", re.I
)


def _text_concat(node: Node) -> str:
    """bs4 ``get_text(strip=True)``: stripped runs joined WITHOUT spaces."""
    parts: list[str] = []

    def walk(n: Node) -> None:
        for c in n.children:
            if c.is_text:
                t = c.attrs["text"].strip()
                if t:
                    parts.append(t)
            else:
                walk(c)

    walk(node)
    return "".join(parts)


def _single_string(node: Node) -> str | None:
    """bs4 ``.string``: the node's single string descendant through
    single-child chains, else None."""
    while True:
        kids = node.children
        if len(kids) != 1:
            return None
        only = kids[0]
        if only.is_text:
            return only.attrs["text"]
        node = only


def _annotate(root: Node) -> dict[int, tuple[int, int, int]]:
    """ONE post-order pass computing, per node id: (text_len, n_spaces,
    ser_children_len) — the scoring inputs that the naive restatement (and
    the reference, via get_text/encode_contents per node,
    content_filter_strategy.py:685-687) recomputes at EVERY tree level,
    making the prune O(n·depth) in string bytes. The quantities compose
    bottom-up exactly:

    - text_len / n_spaces: over per-run STRIPPED text joined without
      separators (bs4 get_text(strip=True) length semantics) — sums of the
      per-run values, since no separators are added;
    - ser_children_len: len(node.serialize_children()) — child full
      serializations concatenate, and a child's full length is its
      children's total plus its own tag/attr overhead.

    Valid for top-down pruning: a node is judged BEFORE any of its own
    subtree is detached, and sibling removals never touch a disjoint
    subtree, so the original-tree annotations are exactly what the naive
    recomputation would see."""
    memo: dict[int, tuple[int, int, int]] = {}
    full: dict[int, int] = {}

    def walk(n: Node) -> None:
        if n.is_text:
            t = n.attrs["text"]
            s = t.strip()
            memo[id(n)] = (len(s), s.count(" "), 0)
            full[id(n)] = len(escape(t, quote=False))
            return
        text_len = n_spaces = ser_children = 0
        for c in n.children:
            walk(c)
            a, b, _ = memo[id(c)]
            text_len += a
            n_spaces += b
            ser_children += full[id(c)]
        memo[id(n)] = (text_len, n_spaces, ser_children)
        if n.tag == "#root":
            full[id(n)] = ser_children
        else:
            attr_len = sum(
                1 + len(k) if v is None else len(k) + len(escape(str(v))) + 4
                for k, v in n.attrs.items()
            )
            if n.tag in VOID_TAGS:
                full[id(n)] = len(n.tag) + attr_len + 2
            else:
                full[id(n)] = ser_children + 2 * len(n.tag) + attr_len + 5

    walk(root)
    return memo


def _link_text_len(node: Node) -> int:
    total = 0
    for c in node.children:
        if not c.is_text and c.tag == "a":
            s = _single_string(c)
            if s:
                total += len(s.strip())
    return total


def _score_annotated(
    node: Node, memo: dict, min_word_threshold: int | None
) -> float:
    """The reference's composite node score (content_filter_strategy.py
    :729-764) over precomputed (text_len, n_spaces, tag_len) — O(1) per
    node instead of re-serializing the subtree."""
    text_len, n_spaces, tag_len = memo[id(node)]
    if min_word_threshold:
        if n_spaces + 1 < min_word_threshold:
            return -1.0
    link_text_len = _link_text_len(node)

    score = 0.0
    density = text_len / tag_len if tag_len > 0 else 0
    score += METRIC_WEIGHTS["text_density"] * density
    link_density = 1 - (link_text_len / text_len if text_len > 0 else 0)
    score += METRIC_WEIGHTS["link_density"] * link_density
    score += METRIC_WEIGHTS["tag_weight"] * TAG_WEIGHTS.get(node.tag, 0.5)
    class_score = 0.0
    if node.attrs.get("class"):
        if _NEGATIVE.match(node.attrs["class"]):
            class_score -= 0.5
    if node.attrs.get("id"):
        if _NEGATIVE.match(node.attrs["id"]):
            class_score -= 0.5
    score += METRIC_WEIGHTS["class_id_weight"] * max(0, class_score)
    score += METRIC_WEIGHTS["text_length"] * math.log(text_len + 1)
    return score


def _dynamic_threshold_annotated(node: Node, memo: dict, base: float) -> float:
    text_len, _, tag_len = memo[id(node)]
    link_text_len = _link_text_len(node)
    threshold = base
    if TAG_IMPORTANCE.get(node.tag, 0.7) > 1:
        threshold *= 0.8
    if (text_len / tag_len if tag_len > 0 else 0) > 0.4:
        threshold *= 0.9
    if (link_text_len / text_len if text_len > 0 else 1) > 0.6:
        threshold *= 1.2
    return threshold


def _prune_tree(
    node: Node,
    threshold: float,
    threshold_type: str,
    min_word_threshold: int | None,
    memo: dict | None = None,
) -> None:
    """Top-down: judge the node; removal drops the subtree, survival
    recurses into the element children (spec :677-727)."""
    if memo is None:
        memo = _annotate(node)
    score = _score_annotated(node, memo, min_word_threshold)
    limit = (
        threshold
        if threshold_type == "fixed"
        else _dynamic_threshold_annotated(node, memo, threshold)
    )
    if score < limit:
        node.detach()
        node.children = []  # bs4 decompose(): the subtree is gone even if
        return              # the caller still holds the node
    for child in [c for c in node.children if not c.is_text]:
        _prune_tree(child, threshold, threshold_type, min_word_threshold, memo)


def prune_content_blocks(
    html: str,
    threshold: float = 0.48,
    threshold_type: str = "fixed",
    min_word_threshold: int | None = None,
) -> list[str]:
    """filter_content surface: surviving top-level element blocks of the
    body (non-empty text), serialized."""
    if not html or not isinstance(html, str):
        return []
    blocks = prune_tree(parse_html(html), threshold, threshold_type, min_word_threshold)
    return [b.serialize() for b in blocks]


def prune_tree(
    root: Node,
    threshold: float = 0.48,
    threshold_type: str = "fixed",
    min_word_threshold: int | None = None,
) -> list[Node]:
    """``prune_content_blocks`` on a parsed tree, pruned in place: the
    surviving top-level element blocks of the body (non-empty text)."""
    root.remove_tags(*EXCLUDED_TAGS)
    body = root.find("body") or root
    _prune_tree(body, threshold, threshold_type, min_word_threshold)
    return [c for c in body.children if not c.is_text and _text_concat(c)]


def prune_fit_html(
    html: str,
    threshold: float = 0.48,
    threshold_type: str = "fixed",
    min_word_threshold: int | None = None,
) -> tuple[list[str], str]:
    """(blocks, fit_html): fit_html wraps each surviving block in <div>
    exactly as the reference feeds fit content to its markdown stage."""
    blocks = prune_content_blocks(html, threshold, threshold_type, min_word_threshold)
    fit_html = "\n".join(f"<div>{b}</div>" for b in blocks)
    return blocks, fit_html


def fit_nodes(blocks: list[Node]) -> list[Node]:
    """The node list ``fit_html`` serializes from: each block inside a
    <div>, a "\n" text run between blocks. The blocks keep their parents;
    the wrappers only borrow them."""
    out: list[Node] = []
    for b in blocks:
        if out:
            out.append(Node("#text", {"text": "\n"}))
        wrapper = Node("div")
        wrapper.children.append(b)
        out.append(wrapper)
    return out
