"""Stdlib-only HTML → DOM-lite tree.

The reference scrapes with lxml/bs4 (content_scraping_strategy.py); neither
library exists in this runtime, so the extraction kernel parses with
``html.parser`` from the standard library into a minimal mutable tree that
supports everything the scrape/markdown/pruning stages need: tag, attrs,
children, text runs, parent links, removal, serialization, and text
extraction with whitespace collapsing.

This code runs ONLY inside Arrow pandas UDFs (one Python call per page, many
pages per Arrow batch) — never per-row Python UDFs.

The extract kernel (``plans.extract.extract_page``) tokenizes a page once:
scrape parses it into this tree and normalizes the cleaned tree into what
``parse_html(cleaned_html)`` would build; markdown, pruning and fit
markdown then walk that tree. The string functions (``scrape_page``,
``generate_markdown_parts``, ``prune_fit_html``, ``html_to_markdown``)
re-parse their input and are the reference the kernel is tested against.
"""

from __future__ import annotations

from html import escape
from html.parser import HTMLParser

VOID_TAGS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict | None = None, parent: "Node | None" = None):
        self.tag = tag  # '#text' for text runs (text stored in attrs['text'])
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.parent = parent

    # -- construction --------------------------------------------------------

    def add_text(self, text: str) -> None:
        self.children.append(Node("#text", {"text": text}, self))

    def add_child(self, tag: str, attrs: dict) -> "Node":
        child = Node(tag, attrs, self)
        self.children.append(child)
        return child

    # -- queries -------------------------------------------------------------

    @property
    def is_text(self) -> bool:
        return self.tag == "#text"

    def iter(self):
        """Depth-first pre-order over element nodes (not text runs)."""
        stack = [self]
        while stack:
            node = stack.pop()
            if not node.is_text:
                yield node
                stack.extend(reversed(node.children))

    def find_all(self, *tags: str):
        tagset = frozenset(tags)
        return [n for n in self.iter() if n.tag in tagset]

    def find(self, *tags: str):
        tagset = frozenset(tags)
        for n in self.iter():
            if n.tag in tagset:
                return n
        return None

    def classes(self) -> list[str]:
        return (self.attrs.get("class") or "").split()

    def text(self, separator: str = " ") -> str:
        """Inner text with whitespace collapsed per run, joined by separator."""
        parts: list[str] = []

        def walk(node: Node) -> None:
            for c in node.children:
                if c.is_text:
                    t = " ".join(c.attrs["text"].split())
                    if t:
                        parts.append(t)
                else:
                    walk(c)

        walk(self)
        return separator.join(parts)

    def raw_text(self) -> str:
        """Inner text verbatim — whitespace preserved (for <pre> blocks)."""
        parts: list[str] = []

        def walk(node: Node) -> None:
            for c in node.children:
                if c.is_text:
                    parts.append(c.attrs["text"])
                else:
                    walk(c)

        walk(self)
        return "".join(parts)

    def word_count(self) -> int:
        """Word count the way the reference prunes (content_scraping_
        strategy.py: len(get_text(strip=True).split())): each text run
        stripped, runs CONCATENATED with no separator, then split — so
        '<b>Read</b>More' counts 1 word, not 2."""
        parts: list[str] = []

        def walk(node: "Node") -> None:
            for c in node.children:
                if c.is_text:
                    t = c.attrs["text"].strip()
                    if t:
                        parts.append(t)
                else:
                    walk(c)

        walk(self)
        return len("".join(parts).split())

    # -- mutation ------------------------------------------------------------

    def detach(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None

    def remove_tags(self, *tags: str) -> None:
        tagset = frozenset(tags)
        for n in list(self.iter()):
            if n.tag in tagset and n.parent is not None:
                n.detach()

    # -- serialization -------------------------------------------------------

    def serialize(self, keep_attrs: frozenset | None = None) -> str:
        out: list[str] = []
        self._serialize_into(out, keep_attrs)
        return "".join(out)

    def serialize_children(self, keep_attrs: frozenset | None = None) -> str:
        out: list[str] = []
        for c in self.children:
            c._serialize_into(out, keep_attrs)
        return "".join(out)

    def _serialize_into(self, out: list[str], keep_attrs: frozenset | None) -> None:
        if self.is_text:
            out.append(escape(self.attrs["text"], quote=False))
            return
        attrs = self.attrs
        if keep_attrs is not None:
            attrs = {k: v for k, v in attrs.items() if k in keep_attrs}
        attr_str = "".join(
            f' {k}' if v is None else f' {k}="{escape(str(v))}"'
            for k, v in attrs.items()
        )
        if self.tag == "#root":
            for c in self.children:
                c._serialize_into(out, keep_attrs)
            return
        if self.tag in VOID_TAGS:
            out.append(f"<{self.tag}{attr_str}>")
            return
        out.append(f"<{self.tag}{attr_str}>")
        for c in self.children:
            c._serialize_into(out, keep_attrs)
        out.append(f"</{self.tag}>")


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#root")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = self.stack[-1].add_child(tag, dict(attrs))
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].add_child(tag, dict(attrs))

    def handle_endtag(self, tag):
        # pop to the nearest matching open tag (tolerates misnesting)
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].add_text(data)


def parse_html(html: str) -> Node:
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        pass  # keep whatever parsed; crawler must survive malformed pages
    return builder.root
