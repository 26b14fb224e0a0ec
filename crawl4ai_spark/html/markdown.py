"""HTML → markdown + citation rewriting, byte-parity edition.

From-scratch re-implementation of the *observable behavior* of the
reference's vendored html2text fork under the exact option set that
crawl4ai's ``DefaultMarkdownGenerator`` runs it with (behavioral spec:
/root/reference/crawl4ai/markdown_generation_strategy.py:181-190 — fixed
options ``body_width=0, single_line_break=True, mark_code=True,
escape_snob=False`` over ``CustomHTML2Text`` whose constructor pins
``skip_internal_links=False, ignore_mailto_links=True`` and fences <pre>
blocks itself; converter spec: /root/reference/crawl4ai/html2text/__init__.py).

No reference code is copied: byte-parity is *proven* by executing the
reference converter on fixture HTML (tools/gen_markdown_goldens.py) and
driving this engine to match the committed goldens exactly
(tests/test_markdown_parity.py + the ``extract_markdown`` contract oracle).

Branches of the reference converter that are unreachable under the fixed
options are deliberately omitted: google-docs mode, body-width wrapping,
reference-style (non-inline) links, table padding, ``[code]`` marks
(shadowed by the fence override), images-as-html, preserved-tag passthrough.

Pure Python, stdlib only — runs inside Arrow pandas UDFs.
"""

from __future__ import annotations

import html.entities
import re
import string
import urllib.parse
from html.parser import HTMLParser

from crawl4ai_spark.html.parser import VOID_TAGS, Node

# The converter buffers non-breaking spaces with an in-band sentinel so they
# survive whitespace collapsing, then rewrites them at the end. The sentinel
# string itself is part of the observable behavior (a literal occurrence in
# input text is rewritten too), so it must match the reference's token.
_NBSP_TOKEN = "&nbsp_place_holder;"

# Entity → ascii-pseudo replacements applied when unicode_snob is off
# (data table, config.py:UNIFIABLE of the reference converter).
_ENTITY_ASCII = {
    "rsquo": "'", "lsquo": "'", "rdquo": '"', "ldquo": '"',
    "copy": "(C)", "mdash": "--", "nbsp": _NBSP_TOKEN, "rarr": "->",
    "larr": "<-", "middot": "*", "ndash": "-", "oelig": "oe", "aelig": "ae",
    "agrave": "a", "aacute": "a", "acirc": "a", "atilde": "a", "auml": "a",
    "aring": "a", "egrave": "e", "eacute": "e", "ecirc": "e", "euml": "e",
    "igrave": "i", "iacute": "i", "icirc": "i", "iuml": "i", "ograve": "o",
    "oacute": "o", "ocirc": "o", "otilde": "o", "ouml": "o", "ugrave": "u",
    "uacute": "u", "ucirc": "u", "uuml": "u", "lrm": "", "rlm": "",
}
_CODEPOINT_ASCII = {
    html.entities.name2codepoint[k]: v
    for k, v in _ENTITY_ASCII.items()
    if k != "nbsp"
}

_WS_RUN = re.compile(r"\s+")
_ABS_URL = re.compile(r"^[a-zA-Z+]+://")
_AFTER_STRESS_OK = re.compile(r"[^][(){}\s.!?]")
# backslash that precedes a markdown-significant char must itself be escaped
_BSLASH_BEFORE_MD = re.compile(r"(\\)(?=[%s])" % re.escape(r"\`*_{}[]()#+-.!"))
# escape-everything mode (escape_snob — off in the fixed options, kept as knob)
_MD_CHARS_ALL = re.compile(r"([`\*_{}\[\]\(\)#!])")
# chars escaped inside link/image constructs
_MD_CHARS_LINK = re.compile(r"([\\\[\]\(\)])")

# the characters the serializer writes as entity references in text
_MARKUP_CHAR = re.compile(r"([&<>])")

_HEADING_LEVEL = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}


def _escape_link_part(text: str) -> str:
    """Escape markdown-sensitive chars inside link urls/titles/alt text."""
    return _MD_CHARS_LINK.sub(r"\\\1", text)


class _OpenList:
    __slots__ = ("kind", "num")

    def __init__(self, kind: str, num: int):
        self.kind = kind
        self.num = num


class MarkdownEmitter(HTMLParser):
    """Event-driven HTML→markdown state machine (one instance per document).

    The whitespace model: text runs are collapsed, a pending-space flag defers
    single spaces until the next emission, block elements queue line breaks in
    ``_breaks`` which are flushed (with blockquote prefixes) by the next
    emission. ``single_line_break`` collapses paragraph breaks to one newline.
    """

    def __init__(
        self,
        base_url: str = "",
        *,
        ignore_links: bool = False,
        ignore_images: bool = False,
        ignore_emphasis: bool = False,
        ignore_mailto_links: bool = True,
        skip_internal_links: bool = False,
        single_line_break: bool = True,
        escape_snob: bool = False,
        protect_links: bool = False,
        use_automatic_links: bool = True,
        handle_code_in_pre: bool = False,
        bullet_mark: str = "*",
        em_mark: str = "_",
        strong_mark: str = "**",
    ):
        super().__init__(convert_charrefs=False)
        self.base_url = base_url
        self.ignore_links = ignore_links
        self.ignore_images = ignore_images
        self.ignore_emphasis = ignore_emphasis
        self.ignore_mailto_links = ignore_mailto_links
        self.skip_internal_links = skip_internal_links
        self.single_line_break = single_line_break
        self.escape_snob = escape_snob
        self.protect_links = protect_links
        self.use_automatic_links = use_automatic_links
        self.handle_code_in_pre = handle_code_in_pre
        self.bullet_mark = bullet_mark
        self.em_mark = em_mark
        self.strong_mark = strong_mark
        self.open_quote = '"'
        self.close_quote = '"'

        # output assembly
        self._chunks: list[str] = []
        self._last_nl = False
        self._breaks = 0            # queued newlines before next emission
        self._fresh = True          # swallow leading whitespace/breaks
        self._sp = False            # one deferred space pending
        self._br_mark = ""          # "  " after an explicit <br>/table row
        # structural state
        self._muted = 0             # head/style/script suppression depth
        self._bq = 0                # blockquote depth
        self._lists: list[_OpenList] = []
        self._last_was_list = False
        self._in_heading = False
        # inline state
        self._code = False          # kbd/tt (and code-in-link) toggle
        self._fenced = False        # inside Custom-style ``` fence (<pre>)
        self._inline_code = False   # inside <code> outside pre
        self._in_link = False
        self._a_stack: list[dict | None] = []
        self._auto_href: str | None = None   # candidate <url> automatic link
        self._a_empty = False
        self._stress_open = False
        self._after_stress = False
        self._prev_data = ""
        self._cur_tag = ""
        self._q_open = False
        # tables
        self._td_split = False
        self._ncols = 0
        self._thead = False
        # abbr definitions
        self._abbr_title: str | None = None
        self._abbr_buf: str | None = None
        self._abbr_defs: dict[str, str] = {}
        # urljoin memo (pure function of (base_url, href) — pages repeat hrefs)
        self._join_memo: dict[str, str] = {}

    def _join(self, href: str) -> str:
        out = self._join_memo.get(href)
        if out is None:
            out = urllib.parse.urljoin(self.base_url, href)
            self._join_memo[href] = out
        return out

    # ------------------------------------------------------------------ out

    def _out(self, s: str) -> None:
        self._chunks.append(s)
        if s:
            self._last_nl = s[-1] == "\n"

    def _emit(self, data: str, collapse: bool = False, force=False) -> None:
        """Whitespace/break-aware emission (the reference's ``o``)."""
        if self._abbr_buf is not None:
            self._abbr_buf += data
        if self._muted:
            return
        if collapse:
            data = _WS_RUN.sub(" ", data)
            if data and data[0] == " ":
                self._sp = True
                data = data[1:]
        if not data and not force:
            return
        prefix = ">" * self._bq
        if not (force and data and data[0] == ">") and self._bq:
            prefix += " "
        if self._fresh:
            self._sp = False
            self._breaks = 0
            self._fresh = False
        if force == "end":
            self._breaks = 0
            self._out("\n")
            self._sp = False
        if self._breaks:
            self._out((self._br_mark + "\n" + prefix) * self._breaks)
            self._sp = False
            self._br_mark = ""
        if self._sp:
            if not self._last_nl:
                self._out(" ")
            self._sp = False
        if self._abbr_defs and force == "end":
            for abbr, definition in self._abbr_defs.items():
                self._out("  *[" + abbr + "]: " + definition + "\n")
        self._breaks = 0
        self._out(data)

    def _queue_break(self) -> None:
        if self._breaks == 0:
            self._breaks = 1

    def _para(self) -> None:
        self._breaks = 1 if self.single_line_break else 2

    def _row_break(self) -> None:
        self._queue_break()
        self._br_mark = "  "

    # ----------------------------------------------------------- top level

    def feed(self, data: str) -> None:
        # legacy guard inherited from the reference tokenizer's behavior
        super().feed(data.replace("</' + 'script>", "</ignore>"))

    def convert(self, doc: str) -> str:
        self._fresh = True
        self.feed(doc)
        self.feed("")
        self.close()
        return self._finish()

    def _finish(self) -> str:
        self._queue_break()
        self._emit("", force="end")
        text = "".join(self._chunks)
        self._chunks = []
        return text.replace(_NBSP_TOKEN, " ")

    # ------------------------------------------------------------- replay

    def replay(self, nodes: list[Node]) -> None:
        """The second event source next to ``feed``: delivers exactly the
        events ``HTMLParser(convert_charrefs=False)`` delivers for the
        serialization of ``nodes`` (text escaped with ``quote=False``).
        A start tag per element, an end tag unless it is void; adjacent
        text siblings serialize as one run, so they are merged; text is
        split at ``&``, ``<`` and ``>``, which the serialization writes as
        ``&amp;``, ``&lt;`` and ``&gt;`` entity references. ``script`` and
        ``style`` text is CDATA to the tokenizer: one data event, as is."""
        text = None
        for node in nodes:
            tag = node.tag
            if tag == "#text":
                t = node.attrs["text"]
                text = t if text is None else text + t
                continue
            if text is not None:
                self._replay_text(text)
                text = None
            self._dispatch(tag, node.attrs, True)
            if tag in VOID_TAGS:
                continue
            if tag == "script" or tag == "style":
                cdata = "".join(c.attrs["text"] for c in node.children if c.is_text)
                if cdata:
                    self._data(cdata, from_entity=False)
            else:
                self.replay(node.children)
            self._dispatch(tag, {}, False)
        if text is not None:
            self._replay_text(text)

    def _replay_text(self, text: str) -> None:
        if "&" not in text and "<" not in text and ">" not in text:
            self._data(text, from_entity=False)
            return
        for i, part in enumerate(_MARKUP_CHAR.split(text)):
            if i & 1:
                self._data(part, from_entity=True)  # &amp; &lt; &gt; decoded
            elif part:
                self._data(part, from_entity=False)

    # ------------------------------------------------------------- parsing

    def handle_starttag(self, tag, attrs):
        self._dispatch(tag, dict(attrs), True)

    def handle_endtag(self, tag):
        self._dispatch(tag, {}, False)

    def handle_charref(self, name):
        self._data(self._decode_charref(name), from_entity=True)

    def handle_entityref(self, name):
        decoded = self._decode_entityref(name)
        if decoded:
            self._data(decoded, from_entity=True)

    def handle_data(self, data):
        self._data(data, from_entity=False)

    def _data(self, data: str, from_entity: bool) -> None:
        if self._fenced:
            self._emit(data)            # verbatim inside fences
            return
        if self._inline_code:
            self._emit(data.replace("\n", " "))
            return
        self._text(data, from_entity)

    def _decode_charref(self, name: str) -> str:
        try:
            cp = int(name[1:], 16) if name[0] in ("x", "X") else int(name)
        except ValueError:
            return ""
        if cp in _CODEPOINT_ASCII:
            return _CODEPOINT_ASCII[cp]
        try:
            return chr(cp)
        except ValueError:
            return ""

    def _decode_entityref(self, name: str) -> str:
        if name in _ENTITY_ASCII:
            return _ENTITY_ASCII[name]
        try:
            return html.entities.html5[name + ";"]
        except KeyError:
            return "&" + name + ";"

    # --------------------------------------------------------------- tags

    def _dispatch(self, tag: str, attrs: dict, start: bool) -> None:
        # fence layer (the Custom converter intercepts pre/code before any
        # generic handling — note: no current-tag update, no auto-link flush)
        if tag == "pre":
            if start:
                self._emit("```\n")
                self._fenced = True
            else:
                self._emit("\n```\n")
                self._fenced = False
            return
        if tag == "code":
            if self._fenced and not self.handle_code_in_pre:
                return
            if not self._in_link:
                self._emit("`")
            self._inline_code = start
            if self._in_link:
                self._generic(tag, attrs, start)
            return
        self._generic(tag, attrs, start)

    def _generic(self, tag: str, attrs: dict, start: bool) -> None:
        self._cur_tag = tag
        # a pending automatic link is abandoned as soon as any markup that
        # produces output opens inside the anchor
        if (
            start
            and self._auto_href is not None
            and tag not in ("p", "div", "style", "dl", "dt")
            and (tag != "img" or self.ignore_images)
        ):
            self._emit("[")
            self._auto_href = None
            self._a_empty = False

        level = _HEADING_LEVEL.get(tag, 0)
        if level:
            self._tag_heading(level, start)
            if not start:
                return  # heading close: keep _last_was_list untouched
            self._last_was_list = False
            return

        handler = self._TAGS.get(tag)
        if handler is not None:
            handler(self, attrs, start)
        if tag not in ("ol", "ul"):
            self._last_was_list = False

    def _tag_heading(self, level: int, start: bool) -> None:
        if self._a_stack:
            if start:
                self._in_heading = True
                # heading opened inside an anchor: hoist '#' before the '['
                if self._chunks and self._chunks[-1] == "[":
                    self._chunks.pop()
                    self._sp = False
                    self._emit("#" * level + " ")
                    self._emit("[")
            else:
                self._breaks = 0  # don't split the link name
                self._in_heading = False
        else:
            self._para()
            if start:
                self._in_heading = True
                self._emit("#" * level + " ")
            else:
                self._in_heading = False

    def _tag_paragraph(self, attrs, start):
        if self._a_stack or self._td_split:
            return
        self._para()

    def _tag_br(self, attrs, start):
        if start:
            self._emit("  \n> " if self._bq > 0 else "  \n")

    def _tag_hr(self, attrs, start):
        if start:
            self._para()
            self._emit("* * *")
            self._para()

    def _tag_muting(self, attrs, start):
        if start:
            self._muted += 1
        else:
            self._muted -= 1

    def _tag_body(self, attrs, start):
        self._muted = 0  # pages that never close <head>

    def _tag_blockquote(self, attrs, start):
        if start:
            self._para()
            self._emit("> ", force=True)
            self._fresh = True
            self._bq += 1
        else:
            self._bq -= 1
            self._para()

    def _stress(self, mark: str, start: bool, space_if_last: str | None) -> None:
        """Emphasis/strong/strikethrough marks with the space-repair rule."""
        prev = self._prev_data
        if start and prev and (
            prev[-1] == space_if_last
            if space_if_last is not None
            else prev[-1] not in string.whitespace
            and prev[-1] not in string.punctuation
        ):
            self._prev_data += " "
            mark = " " + mark
        self._emit(mark)
        if start:
            self._stress_open = True

    def _tag_em(self, attrs, start):
        if not self.ignore_emphasis:
            self._stress(self.em_mark, start, None)

    def _tag_strong(self, attrs, start):
        if not self.ignore_emphasis:
            self._stress(self.strong_mark, start, self.strong_mark[0] if self.strong_mark else "\0")

    def _tag_strike(self, attrs, start):
        self._stress("~~", start, "~")

    def _tag_kbd(self, attrs, start):
        if not self._fenced:
            self._emit("`")
            self._code = not self._code

    def _tag_abbr(self, attrs, start):
        if start:
            self._abbr_title = attrs.get("title")
            self._abbr_buf = ""
        else:
            if self._abbr_title is not None and self._abbr_buf is not None:
                self._abbr_defs[self._abbr_buf] = self._abbr_title
                self._abbr_title = None
            self._abbr_buf = None

    def _tag_q(self, attrs, start):
        self._emit(self.close_quote if self._q_open else self.open_quote)
        self._q_open = not self._q_open

    def _tag_a(self, attrs, start):
        if self.ignore_links:
            return
        if start:
            self._in_link = True
            href = attrs.get("href")
            if (
                href is not None
                and not (self.skip_internal_links and href.startswith("#"))
                and not (self.ignore_mailto_links and href.startswith("mailto:"))
            ):
                self._a_stack.append(attrs)
                self._auto_href = href
                self._a_empty = True
                if self.protect_links:
                    attrs["href"] = "<" + href + ">"
            else:
                self._a_stack.append(None)
        else:
            self._in_link = False
            if self._a_stack:
                link = self._a_stack.pop()
                if self._auto_href and not self._a_empty:
                    self._auto_href = None
                elif link:
                    if self._a_empty:
                        self._emit("[")
                        self._a_empty = False
                        self._auto_href = None
                    self._breaks = 0
                    title = _escape_link_part(link.get("title") or "")
                    url = self._join(link["href"])
                    suffix = ' "{}"'.format(title) if title.strip() else ""
                    self._emit("](" + _escape_link_part(url) + suffix + ")")

    def _tag_img(self, attrs, start):
        if not start or self.ignore_images:
            return
        src = attrs.get("src")
        if src is None:
            return
        alt = attrs.get("alt") or ""
        if self._auto_href is not None:
            self._emit("[")
            self._auto_href = None
            self._a_empty = False
        self._emit("![" + _escape_link_part(alt) + "]")
        self._emit("(" + _escape_link_part(self._join(src)) + ")")

    def _tag_dl(self, attrs, start):
        if start:
            self._para()
            self._breaks = 0

    def _tag_dt(self, attrs, start):
        if start:
            if self._breaks == 0:
                self._emit("\n\n")
            self._breaks = 0
        else:
            self._emit("\n")

    def _tag_dd(self, attrs, start):
        if start:
            self._emit("    ")
        else:
            self._breaks = 0

    def _tag_list(self, attrs, start):
        if not self._lists and not self._last_was_list:
            self._para()
        if start:
            try:
                first = int(attrs.get("start") or "") - 1
            except ValueError:
                first = 0
            self._lists.append(_OpenList(self._cur_tag, first))
        else:
            if self._lists:
                self._lists.pop()
                if not self._lists:
                    self._emit("\n")
        self._last_was_list = True

    def _tag_li(self, attrs, start):
        self._queue_break()
        if not start:
            return
        item = self._lists[-1] if self._lists else _OpenList("ul", 0)
        # two spaces of indent per open list; three for a ul nested in an ol
        parent = None
        for lst in self._lists:
            self._emit("   " if parent == "ol" and lst.kind == "ul" else "  ")
            parent = lst.kind
        if item.kind == "ul":
            self._emit(self.bullet_mark + " ")
        else:
            item.num += 1
            self._emit(str(item.num) + ". ")
        self._fresh = True

    def _tag_table(self, attrs, start):
        if start:
            self._thead = True

    def _tag_tr(self, attrs, start):
        if start:
            self._ncols = 0
        else:
            self._td_split = False
            self._row_break()
            if self._thead:
                self._emit("|".join(["---"] * self._ncols))
                self._row_break()
                self._thead = False

    def _tag_td(self, attrs, start):
        if start:
            if self._td_split:
                self._emit("| ")
            self._td_split = True
            self._ncols += 1

    _TAGS = {
        "p": _tag_paragraph, "div": _tag_paragraph,
        "br": _tag_br, "hr": _tag_hr,
        "head": _tag_muting, "style": _tag_muting, "script": _tag_muting,
        "body": _tag_body, "blockquote": _tag_blockquote,
        "em": _tag_em, "i": _tag_em, "u": _tag_em,
        "strong": _tag_strong, "b": _tag_strong,
        "del": _tag_strike, "strike": _tag_strike, "s": _tag_strike,
        "kbd": _tag_kbd, "tt": _tag_kbd, "code": _tag_kbd,
        "abbr": _tag_abbr, "q": _tag_q, "a": _tag_a, "img": _tag_img,
        "dl": _tag_dl, "dt": _tag_dt, "dd": _tag_dd,
        "ol": _tag_list, "ul": _tag_list, "li": _tag_li,
        "table": _tag_table, "tr": _tag_tr, "td": _tag_td, "th": _tag_td,
    }

    # --------------------------------------------------------------- text

    def _escape_text(self, data: str) -> str:
        data = _BSLASH_BEFORE_MD.sub(r"\\\1", data)
        if self.escape_snob:
            data = _MD_CHARS_ALL.sub(r"\\\1", data)
        return data

    def _text(self, data: str, from_entity: bool = False) -> None:
        if not data:
            return
        if self._stress_open:
            data = data.strip()
            self._stress_open = False
            self._after_stress = True
        elif self._after_stress:
            if (
                _AFTER_STRESS_OK.match(data[0])
                and not _HEADING_LEVEL.get(self._cur_tag)
                and self._cur_tag not in ("a", "code", "pre")
            ):
                data = " " + data
            self._after_stress = False
        if self._auto_href is not None:
            href = self._auto_href
            if href == data and _ABS_URL.match(href) and self.use_automatic_links:
                self._emit("<" + data + ">")
                self._a_empty = False
                return
            self._emit("[")
            self._auto_href = None
            self._a_empty = False
        if not self._code and not from_entity:
            data = self._escape_text(data)
        self._prev_data = data
        self._emit(data, collapse=True)


# -------------------------------------------------------------- public API


def html_to_markdown(doc: str, base_url: str = "") -> str:
    """Raw markdown for one HTML document (fence-indent cleanup applied,
    matching the reference generator's post-processing)."""
    raw = MarkdownEmitter(base_url=base_url).convert(doc or "")
    return raw.replace("    ```", "```")


def tree_to_markdown(nodes: list[Node], base_url: str = "") -> str:
    """``html_to_markdown`` of the serialization of ``nodes``, walked
    instead of tokenized: equal to
    ``html_to_markdown("".join(n.serialize() for n in nodes), base_url)``
    for any nodes that serialization would parse back into."""
    emitter = MarkdownEmitter(base_url=base_url)
    emitter.replay(nodes)
    return emitter._finish().replace("    ```", "```")


# citation scanner: the exact link shape the generator rewrites
# (spec: markdown_generation_strategy.py:12 LINK_PATTERN)
_CITE_LINK = re.compile(r'!?\[([^\]]+)\]\(([^)]+?)(?:\s+"([^"]*)")?\)')


def _join_for_citation(base: str, url: str) -> str:
    """The generator's fast path for url joins — note the non-RFC '/'-path
    behavior (base is the page url, not its directory): spec
    markdown_generation_strategy.py:14-23."""
    if url.startswith(("http://", "https://", "mailto:", "//")):
        return url
    if url.startswith("/"):
        return (base[:-1] if base.endswith("/") else base) + url
    return urllib.parse.urljoin(base, url)


def links_to_citations(markdown: str, base_url: str = "") -> tuple[str, str]:
    """Rewrite ``[text](url)`` links as ``text⟨n⟩`` numbered by first URL
    occurrence; return (markdown_with_citations, references_markdown)."""
    link_map: dict[str, tuple[int, str]] = {}
    joined: dict[str, str] = {}
    parts: list[str] = []
    pos = 0
    counter = 1
    for m in _CITE_LINK.finditer(markdown):
        parts.append(markdown[pos:m.start()])
        text, url, title = m.groups()
        if base_url and not url.startswith(("http://", "https://", "mailto:")):
            if url not in joined:
                joined[url] = _join_for_citation(base_url, url)
            url = joined[url]
        if url not in link_map:
            desc = []
            if title:
                desc.append(title)
            if text and text != title:
                desc.append(text)
            link_map[url] = (counter, ": " + " - ".join(desc) if desc else "")
            counter += 1
        num = link_map[url][0]
        parts.append(
            f"![{text}⟨{num}⟩]" if m.group(0).startswith("!") else f"{text}⟨{num}⟩"
        )
        pos = m.end()
    parts.append(markdown[pos:])
    refs = ["\n\n## References\n\n"]
    refs.extend(
        f"⟨{num}⟩ {url}{desc}\n"
        for url, (num, desc) in sorted(link_map.items(), key=lambda kv: kv[1][0])
    )
    return "".join(parts), "".join(refs)


def generate_markdown_parts(doc: str, base_url: str = "") -> tuple[str, str, str]:
    """(raw_markdown, markdown_with_citations, references_markdown) — the
    full generator pipeline this engine is golden-checked on."""
    raw = html_to_markdown(doc, base_url)
    cited, refs = links_to_citations(raw, base_url)
    return raw, cited, refs

