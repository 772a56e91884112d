"""Fast-parser guarantees.

The regex tokenizer (htmlparse_fast) is the kernel's frozen parser;
the stdlib builder (htmlparse) stays as the cross-check. On realistic
HTML the two must produce identical extraction output; on adversarial
input the fast parser must satisfy the kernel invariants (stdlib
agreement is NOT claimed there — the stdlib parser emits degenerate
tag names like 'b"<' for unterminated tags at EOF)."""

from hypothesis import given, settings, strategies as st

from ocrd_segment_spark.fixtures import gen_pages
from ocrd_segment_spark.kernel import extract as X
from ocrd_segment_spark.kernel.extract import extract_document
from ocrd_segment_spark.kernel.htmlparse import parse_html as parse_stdlib
from ocrd_segment_spark.kernel.htmlparse_fast import parse_html_fast


def test_equivalent_to_stdlib_on_fixture_corpus():
    rows = gen_pages(2000, seed=7)
    orig = X.parse_html
    mismatches = []
    try:
        for r in rows:
            X.parse_html = parse_stdlib
            a = extract_document(r["html"])
            X.parse_html = parse_html_fast
            b = extract_document(r["html"])
            if a != b:
                mismatches.append(r["url"])
    finally:
        X.parse_html = orig
    assert not mismatches, mismatches[:5]


_frag = st.text(alphabet="abc <>/&;!#x\"'=-p.liv\nh1", min_size=0, max_size=60)
_tags = st.sampled_from(
    ["<p>", "</p>", "<div>", "</div>", "<li>", "<a href='x'>", "</a>",
     "<script>", "</script>", "<!-- c -->", "<br/>", "&amp;", "&#65;",
     "&nosuch;", "<![CDATA[x]]>", "<!DOCTYPE html>", "</bogus !>", "<p",
     "<>", "< p>", "<p/>", "<P >", "</ p>", "<!", "<b\"",
     "<div href = foo/>", "<div x = />", "<p disabled/>", "<a x='q'/>",
     "<div title=don't/>", "<div x= 'q'/>"]
)
_doc = st.lists(st.one_of(_frag, _tags), min_size=0, max_size=25).map("".join)


@given(_doc)
@settings(max_examples=300, deadline=None)
def test_fast_parser_invariants_on_adversarial_input(body):
    html = f"<html><body>{body}</body></html>"
    tree = parse_html_fast(html)
    assert tree is not None
    text, regions, m = extract_document(html)
    assert extract_document(html) == (text, regions, m)  # deterministic
    for r in regions:
        assert 0 <= r["start"] < r["end"] <= len(text)


def test_self_closing_block_tag_auto_closes_p_in_both_parsers():
    """Frozen rule: '<p>a<hr/>b' ends the paragraph exactly like
    '<p>a<hr>b' (HTML5 ignores the '/' on start tags). Round-1 advice
    found the two parsers diverged here because fixtures lacked
    self-closing block tags — this fixture pins the rule."""
    for html in ("<body><p>a<hr/>b</p></body>", "<body><p>a<hr>b</p></body>"):
        trees = [parse_stdlib(html), parse_html_fast(html)]
        for tree in trees:
            body = tree.children[0]
            tags = [c.tag for c in body.children if not isinstance(c, str)]
            # p auto-closed by hr → hr and the trailing 'b' are siblings
            assert tags == ["p", "hr"], (html, tags)
            p = body.children[0]
            assert [c for c in p.children if isinstance(c, str)] == ["a"]
            assert body.children[-1] == "b"
        orig = X.parse_html
        try:
            X.parse_html = parse_stdlib
            a = extract_document(html)
            X.parse_html = parse_html_fast
            b = extract_document(html)
        finally:
            X.parse_html = orig
        assert a == b


def test_fast_parser_rejects_non_utf8():
    assert parse_html_fast(b"<p>x</p>\xff\x80") is None


def test_fast_parser_rawtext_and_entities():
    tree = parse_html_fast(
        "<body><script>if (a<b) {'</div>'}</script><p>x &amp; y &#65;</p></body>"
    )
    body = tree.children[0]
    tags = [c.tag for c in body.children if not isinstance(c, str)]
    assert tags == ["script", "p"]
    p = body.children[1]
    assert "".join(c for c in p.children if isinstance(c, str)) == "x & y A"


# balanced-HTML strategy: properly nested tags over normal text — the
# domain where fast/stdlib equivalence IS claimed; covers tag combos
# the fixture corpus lacks (style inlines, media elements, tables).
_WORDS = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=7), min_size=1, max_size=6
).map(" ".join)
_INLINE = ["b", "strong", "i", "em", "code", "u", "s", "sub", "sup", "a"]
_BLOCK = ["p", "div", "li", "h1", "h2", "blockquote", "pre", "td"]


@st.composite
def _balanced(draw, depth=0):
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.integers(0, 3 if depth < 3 else 1))
        if kind == 0:
            parts.append(draw(_WORDS))
        elif kind == 1:
            parts.append(draw(st.sampled_from(["<img src='/x'/>", "<hr/>", "<br/>"])))
        elif kind == 2:
            t = draw(st.sampled_from(_INLINE))
            attr = " href='/q'" if t == "a" else ""
            parts.append(f"<{t}{attr}>{draw(_balanced(depth + 1))}</{t}>")
        else:
            t = draw(st.sampled_from(_BLOCK))
            parts.append(f"<{t}>{draw(_balanced(depth + 1))}</{t}>")
    return "".join(parts)


@given(_balanced())
@settings(max_examples=200, deadline=None)
def test_equivalent_to_stdlib_on_balanced_html(body):
    """fast ≡ stdlib on well-formed HTML, INCLUDING the media/style
    kernel surfaces (params on) — the equivalence contract extended to
    tag combinations the fixture corpus never produces."""
    from ocrd_segment_spark.config import ExtractParams

    html = f"<html><body>{body}</body></html>"
    P = ExtractParams(media_regions=True, style_spans=True)
    orig = X.parse_html
    try:
        X.parse_html = parse_stdlib
        a = extract_document(html, P)
        X.parse_html = parse_html_fast
        b = extract_document(html, P)
    finally:
        X.parse_html = orig
    assert a == b


_ATTR_CASES = [
    "<p style='font-weight: bold'>x</p>",
    '<p style="font-size: 12px; color:red">x</p>',
    "<p style=font-style:italic>x</p>",             # unquoted value
    "<p STYLE='a:b' Dir=RTL>x</p>",                  # case-insensitive names
    "<p style='a:&quot;q&quot;'>x</p>",              # entity in value
    "<p style='one' style='two'>x</p>",              # duplicate: last wins
    "<p disabled style='s:1'>x</p>",                 # bare attr before
    "<p style = 'spaced'>x</p>",
    "<img src='/x' style='s:2'/>",                   # self-closing
    "<p style=font-family:a=b>x</p>",                # '=' in unquoted value
    "<p data-x=a=b=c title=v>x</p>",                 # multiple '='
    "<p dir==rtl>x</p>",                             # '=' run collapses
    "<p style=font-family:O'Neil>x</p>",             # quote mid-unquoted value
    "<p dir=>x</p>",                                 # empty unquoted value
    "<p title='a>b'>x</p>",                          # '>' inside quoted value
    "<p data-x=a/>y",                                # value-slash: NOT self-closing
    "<p disabled/>y",                                # name-slash: self-closing
    "<p data-x='v'/>y",                              # quote-slash: self-closing
]

# self-close parity (kernel 1.5.4, round-3 advice): a '/' after a
# spaced '=value' binds to the value in html.parser — these are valid
# HTML shapes, not garbage, so tree shape must match the stdlib.
_SELF_CLOSE_CASES = [
    "<div href = foo/>inside</div>",     # spaced both sides: open tag
    "<div href= foo/>inside</div>",      # space after '=': open tag
    "<div href =foo/>inside</div>",      # space before '=': open tag
    "<div href=foo/>inside</div>",       # unspaced: open tag
    '<div x="q" y = z/>inside</div>',    # after a quoted attr: open tag
    "<div x=a= b/>inside</div>",         # '=' consumed by x's value → bare name 'b': self-closes
    "<div x=a=b/>inside</div>",          # '=' inside unquoted value: open tag
    "<div a/b=c/>inside</div>",          # name after '/': open tag
    "<div href= />inside</div>",         # value IS the slash: open tag
    "<div disabled/>inside</div>",       # bare name: self-closes
    "<div x='q'/>inside</div>",          # quoted value: self-closes
    "<div = foo/>inside</div>",          # no name before '=': self-closes
    # kernel 1.5.5 (review): quotes INSIDE an unquoted value bind —
    # html.parser only rejects a value that STARTS with a quote
    "<div title=don't/>inside</div>",    # apostrophe mid-value: open tag
    '<div x=do"nt/>inside</div>',        # double quote mid-value: open tag
    "<div x=a'b/>inside</div>",          # open tag
    "<div x= 'q'/>inside</div>",         # spaced QUOTED value: self-closes
    "<div x=''/>inside</div>",           # empty quoted value: self-closes
    "<div x==v/>inside</div>",           # '=' run then value: open tag
]


def test_self_close_slash_binding_matches_stdlib():
    def shape(node):
        return [
            c if isinstance(c, str) else (c.tag, shape(c))
            for c in node.children
        ]

    for case in _SELF_CLOSE_CASES:
        html = f"<html><body>{case}</body></html>"
        a, b = shape(parse_stdlib(html)), shape(parse_html_fast(html))
        assert a == b, (case, a, b)


def test_deep_stray_end_tags_match_stdlib():
    """End tags whose tag is not open are skipped without a stack scan
    (htmlparse_fast keeps a per-tag count of open elements). Deep stacks
    full of stray end tags, end tags that close through many levels,
    and auto-closed <p>/<li> must still build the stdlib's tree."""
    import random

    from perfbench.inputs import _heavy_page

    def shape(node):
        return [
            c if isinstance(c, str) else (c.tag, shape(c))
            for c in node.children
        ]

    cases = [
        _heavy_page(random.Random(2), 300, 2),  # <div>words</font> per level
        "<div>" * 200 + "<span>x" + "</b><div>y</i>" * 200 + "</span>z</div>tail",
        "<section>" + "<div><b>x" * 100 + "</div>y" * 100 + "</section>after",
        "<ul>" + "<li><div>a</p>b</li><li>c" * 100 + "</ul></li>after",
        "<p>a<div>b</p>c</div></div>" * 50 + "<section><p>d</section></p>e",
    ]
    orig = X.parse_html
    try:
        for html in cases:
            assert shape(parse_stdlib(html)) == shape(parse_html_fast(html))
            X.parse_html = parse_stdlib
            a = extract_document(html)
            X.parse_html = parse_html_fast
            assert extract_document(html) == a
    finally:
        X.parse_html = orig


def test_attr_parity_between_parsers():
    """node_attrs() must agree between the stdlib builder (eager dict)
    and the fast parser (lazy raw-text tokenization) on every
    attribute syntax the kernel's gated paths read (kernel 1.5.0)."""
    from ocrd_segment_spark.kernel.htmlparse import node_attrs

    for case in _ATTR_CASES:
        html = f"<html><body>{case}</body></html>"
        got = []
        for parse in (parse_stdlib, parse_html_fast):
            body = parse(html).children[0]
            el = next(c for c in body.children if not isinstance(c, str))
            got.append(node_attrs(el))
        assert got[0] == got[1], (case, got)
    # values survive: spot-check one
    body = parse_html_fast("<body><p style='font-weight: bold' dir=rtl>x</p></body>").children[0]
    from ocrd_segment_spark.kernel.htmlparse import node_attrs as na
    attrs = na(body.children[0])
    assert attrs["style"] == "font-weight: bold" and attrs["dir"] == "rtl"


_STYLE_ATTRS = [
    "", "", "",  # most elements unstyled
    ' style="font-weight: bold"',
    ' style="font-style: normal; font-size: 14px"',
    " style='font-family: Georgia, serif'",
    ' style="text-decoration: underline dashed"',
    ' style="vertical-align: super; letter-spacing: 2px"',
]


@st.composite
def _balanced_styled(draw, depth=0):
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.integers(0, 3 if depth < 3 else 1))
        if kind == 0:
            parts.append(draw(_WORDS))
        elif kind == 1:
            parts.append(draw(st.sampled_from(["<img src='/x'/>", "<hr/>", "<br/>"])))
        elif kind == 2:
            t = draw(st.sampled_from(_INLINE))
            attr = " href='/q'" if t == "a" else draw(st.sampled_from(_STYLE_ATTRS))
            parts.append(f"<{t}{attr}>{draw(_balanced_styled(depth + 1))}</{t}>")
        else:
            t = draw(st.sampled_from(_BLOCK))
            attr = draw(st.sampled_from(_STYLE_ATTRS))
            parts.append(f"<{t}{attr}>{draw(_balanced_styled(depth + 1))}</{t}>")
    return "".join(parts)


@given(_balanced_styled())
@settings(max_examples=150, deadline=None)
def test_equivalent_to_stdlib_with_css_styles(body):
    """fast ≡ stdlib with the css_styles surface on: lazy attribute
    parsing must yield the same TextStyle runs as the stdlib dicts."""
    from ocrd_segment_spark.config import ExtractParams

    html = f"<html><body>{body}</body></html>"
    P = ExtractParams(media_regions=True, style_spans=True, css_styles=True)
    orig = X.parse_html
    try:
        X.parse_html = parse_stdlib
        a = extract_document(html, P)
        X.parse_html = parse_html_fast
        b = extract_document(html, P)
    finally:
        X.parse_html = orig
    assert a == b
