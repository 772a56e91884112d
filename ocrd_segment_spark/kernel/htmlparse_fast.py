"""Fast regex-tokenizer HTML parser — drop-in for htmlparse.parse_html.

The kernel reads attributes only on gated paths (css_styles /
reading-direction), so a single compiled-regex scan over the document
replaces the stdlib ``html.parser`` state machine (~60% of per-page
kernel time measured); raw attribute text is stored unparsed on the
node and tokenized lazily by ``htmlparse.node_attrs`` on first access.
Behavior is equivalence-tested against the stdlib builder over the
full fixture corpus (tests/test_fastparse.py) — same recovery rules:

- void elements never push;
- unmatched end tags ignored; skipping end tags pop to the match;
- ``<p>``/``<li>`` auto-close on new block/item;
- self-closing: a trailing '/' binds to a preceding unquoted
  '=value', whitespace around the '=' allowed (html.parser's rule:
  `<a href=foo/>` and `<a href = foo/>` are normal start tags);
  after a bare name or a quoted value it self-closes;
- KNOWN boundaries vs the stdlib cross-check (deep-fuzzed; garbage
  input only, and the kernel contract — Spark == oracle byte identity
  — runs THIS parser on both sides, so it is unaffected): tag names
  here are [a-zA-Z][-a-zA-Z0-9]* while html.parser accepts almost any
  byte after the first letter (`<i'>` is text here, a tag there), and
  an UNTERMINATED quoted attribute recovers at the next '>' here
  while html.parser demotes the whole tag to literal text;
- script/style/template/… content is raw text (skipped to the closing
  tag, never tokenized as markup);
- comments / doctype / CDATA / processing instructions ignored;
- character references decoded with ``html.unescape`` (same tables the
  stdlib parser uses).
"""

from __future__ import annotations

import re
from collections import defaultdict
from html import unescape

from .htmlparse import BLOCK_TAGS, VOID_TAGS, Node

# one token per match: comment | declaration/CDATA | PI | end tag | start tag
_TOKEN = re.compile(
    r"<!--.*?(?:-->|$)"          # comment (unterminated swallows rest)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"  # CDATA section
    r"|<![^>]*>?"                 # doctype / declaration
    r"|<\?[^>]*>?"                # processing instruction
    r"|</\s*([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>"      # end tag   (group 1)
    r"|</[^>]*>"                                  # bogus end tag: skipped
    r"|<([a-zA-Z][a-zA-Z0-9:-]*)"                # start tag (group 2)
    r"((?:\"[^\"]*\"|'[^']*'|[^>])*)(/?)>?",  # attrs (3), self-close (4)
    re.DOTALL,
)

# raw-text elements: content runs to the matching close tag (exactly
# the stdlib parser's CDATA-content set, so trees stay equivalent)
_RAWTEXT = frozenset("script style".split())
_RAW_CLOSE = {t: re.compile(rf"</\s*{t}[^>]*>", re.IGNORECASE) for t in _RAWTEXT}

_LT_SPLIT = re.compile(r"(<)")

# Does a trailing '/' in the attribute text bind to a preceding
# unquoted '=value' (html.parser: `<a href=foo/>`, `<a href = foo/>`,
# `<a href= foo/>` are normal start tags whose value swallows the
# slash)? Matches name `[^\s="'/>]+` after a delimiter, '=' with
# optional whitespace on either side, then an unquoted value running
# to the final '/'. The value may CONTAIN quotes (`<a title=don't/>`
# is an open tag, kernel 1.5.5) — html.parser only rejects a value
# that STARTS with one, hence the lookahead, not a class exclusion.
# A quoted value or a bare name before the slash does NOT match →
# self-closing, same as the stdlib (`<p disabled/>`, `<a x='q'/>`).
# Validated case-by-case against html.parser in tests/test_fastparse.py.
_SLASH_BINDS = re.compile(r"(?:^|[\s\"'/])[^\s=\"'/>]+\s*=\s*(?![\"'])[^\s]*/$")


def _append_text(node: Node, data: str) -> None:
    """Append text chunks exactly as the stdlib parser would: a literal
    '<' that matched no construct is emitted as its own data chunk
    (html.parser goahead), which matters because token boundaries
    follow chunk boundaries. Charrefs decoded per chunk (same tables)."""
    if "<" in data:
        for part in _LT_SPLIT.split(data):
            if part:
                node.children.append(unescape(part) if "&" in part else part)
    elif data:
        node.children.append(unescape(data) if "&" in data else data)


def parse_html_fast(html: bytes | str) -> Node | None:
    """Same contract as htmlparse.parse_html (None on failure)."""
    if isinstance(html, (bytes, bytearray)):
        try:
            html = bytes(html).decode("utf-8", errors="strict")
        except UnicodeDecodeError:
            return None
    try:
        return _parse(html)
    except Exception:
        return None


def _parse(html: str) -> Node:
    root = Node("#document")
    stack = [root]
    # open elements per tag (root excluded): an end tag whose tag is
    # not open is ignored without scanning the stack, so stray end
    # tags cost O(1) instead of O(depth)
    n_open: defaultdict[str, int] = defaultdict(int)
    pos = 0
    n = len(html)
    while pos < n:
        m = _TOKEN.search(html, pos)
        if m is None:
            _append_text(stack[-1], html[pos:])
            break
        if m.start() > pos:
            _append_text(stack[-1], html[pos : m.start()])
        pos = m.end()
        # one group() call for all four captures (round-6 perf; the
        # attrs text is also read once and shared)
        end_tag, start_tag, attrs_g, slash_g = m.group(1, 2, 3, 4)
        if start_tag is not None:
            tag = start_tag.lower()
            # auto-close rules (match _TreeBuilder._auto_close)
            if len(stack) > 1:
                top = stack[-1].tag
                if top == "p" and tag in BLOCK_TAGS:
                    stack.pop()
                    n_open["p"] -= 1
                elif top == "li" and tag == "li":
                    stack.pop()
                    n_open["li"] -= 1
            node = Node(tag, None, stack[-1])
            attrs_txt = attrs_g or ""
            node.attrs_raw = attrs_txt
            stack[-1].children.append(node)
            # self-closing: the attrs group greedily consumes a trailing
            # '/', so inspect it. html.parser's rule (which the stdlib
            # cross-check inherits): the '/' binds to a preceding
            # unquoted '=value', whitespace around the '=' allowed —
            # `<a href=foo/>` AND `<a href = foo/>` are normal start
            # tags (kernel 1.5.4) — but `<h2 disabled/>` (bare NAME
            # before the slash) and `<a x='q'/>` are self-closing.
            if slash_g == "/":
                self_closing = True
            elif attrs_txt.endswith("/"):
                self_closing = _SLASH_BINDS.search(attrs_txt) is None
            else:
                self_closing = False
            if tag in _RAWTEXT and not self_closing:
                # raw content: skip to the closing tag, keep as text
                close = _RAW_CLOSE[tag].search(html, pos)
                if close is None:
                    node.children.append(html[pos:])
                    pos = n
                else:
                    node.children.append(html[pos : close.start()])
                    pos = close.end()
            elif tag not in VOID_TAGS and not self_closing:
                stack.append(node)
                n_open[tag] += 1
        elif end_tag is not None:
            tag = end_tag.lower()
            if stack[-1].tag == tag:
                stack.pop()
                n_open[tag] -= 1
            elif n_open[tag]:
                i = len(stack) - 1
                while stack[i].tag != tag:
                    i -= 1
                for closed in stack[i:]:
                    n_open[closed.tag] -= 1
                del stack[i:]
        # comments / declarations / PIs: skipped
    return root
