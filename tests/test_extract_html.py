"""HTML block extraction: raw tier, main-content tier, spans contract."""

from jarvis_ocr_service_spark.operators.extract_html import (
    extract_main_blocks,
    extract_raw_blocks,
    parse_blocks,
)
from jarvis_ocr_service_spark.operators.textops import normalize_text

PAGE = b"""<!DOCTYPE html><html><head><title>T</title>
<script>var x = "<p>not text</p>";</script>
<style>p{color:red}</style></head>
<body>
<nav><a href="/a">Home</a><a href="/b">Shop</a></nav>
<article>
<p>First paragraph with enough words to be a real block of content.</p>
<p>Second &amp; final paragraph &#8212; with entities.</p>
</article>
<div><a href="/x">Pure link block</a></div>
<footer><a href="/about">About us</a></footer>
</body></html>""".decode().encode()


def test_raw_includes_boilerplate():
    text, spans = extract_raw_blocks(parse_blocks(PAGE.decode()))
    assert "Home" in text and "About us" in text
    assert "First paragraph" in text
    assert "not text" not in text  # script content skipped
    assert "color:red" not in text  # style skipped
    assert "T" == text.splitlines()[0][:1] or "T" not in text.splitlines()[0]


def test_main_strips_boilerplate_and_link_blocks():
    text, spans = extract_main_blocks(parse_blocks(PAGE.decode()))
    assert "First paragraph" in text
    assert "Second & final paragraph" in text  # entity decoded
    assert "—" in text  # &#8212; decoded
    assert "Home" not in text  # nav stripped
    assert "About us" not in text  # footer stripped
    assert "Pure link block" not in text  # link density 1.0


def test_spans_index_into_text():
    for fn in (extract_raw_blocks, extract_main_blocks):
        text, spans = fn(parse_blocks(PAGE.decode()))
        for start, end, tag in spans:
            assert 0 <= start < end <= len(text)
            assert text[start:end].strip()
        # spans are ordered and non-overlapping
        for (s1, e1, _), (s2, e2, _) in zip(spans, spans[1:]):
            assert e1 < s2


def test_output_is_normalize_stable():
    for fn in (extract_raw_blocks, extract_main_blocks):
        text, _ = fn(parse_blocks(PAGE.decode()))
        assert normalize_text(text) == text


def test_malformed_html_never_raises():
    for junk in ("<div><p>unclosed", "<<<<>>>>", "a<b>c</q></p>", "<a href=>x", ""):
        blocks = parse_blocks(junk)
        extract_raw_blocks(blocks)
        extract_main_blocks(blocks)


def test_link_density_feature():
    blocks = parse_blocks('<body><p>Plain words here</p><p><a href="/">all link</a></p></body>')
    assert blocks[0].link_density == 0.0
    assert blocks[1].link_density == 1.0


def test_nested_boilerplate_blocks_tagged():
    blocks = parse_blocks("<body><nav><ul><li>One</li><li>Two</li></ul></nav><p>Body</p></body>")
    boiler = [b for b in blocks if b.boiler]
    content = [b for b in blocks if not b.boiler]
    assert {b.text.strip() for b in boiler} == {"One", "Two"}
    assert [b.text.strip() for b in content] == ["Body"]


def test_text_directly_inside_nav_not_merged_into_content():
    blocks = parse_blocks("<body><p>Article</p><nav>Menu text</nav></body>")
    art = [b for b in blocks if b.text.strip() == "Article"]
    nav = [b for b in blocks if b.text.strip() == "Menu text"]
    assert art and not art[0].boiler
    assert nav and nav[0].boiler


# --- fast tokenizer equivalence (r3) ---------------------------------------


def _block_sig(blocks):
    return [(b.texts, b.link_chars, b.total_chars, b.boiler, b.tag) for b in blocks]


def test_fast_tokenizer_matches_stdlib_on_fixture_pages():
    from jarvis_ocr_service_spark.operators.extract_html import (
        parse_blocks,
        parse_blocks_stdlib,
    )
    from jarvis_ocr_service_spark.sources.pages import make_page

    for i in range(300):
        p = make_page(i)
        try:
            h = p["html"].decode("utf-8")
        except UnicodeDecodeError:
            continue
        assert _block_sig(parse_blocks(h)) == _block_sig(parse_blocks_stdlib(h)), i


ADVERSARIAL = [
    "", "<", ">", "<>", "< ", "<a", "<a ", "<a href", '<a href="x', "<a/",
    "<a/>", "<a />", "<br/>text", "<p>a<p>b</p>", "</>", "</ >", "</p", "</p attr>",
    '<p class="a>b">in</p>', "<p class='a>b'>in</p>", "<p a=1 b = '2' c>x</p>",
    "<!-- comment -->after", "<!-- unterminated", "<!--> t", "<!---> u",
    "<!doctype html>x", "<!DOCTYPE  foo >y", "<!bogus stuff>z", "<!unterminated",
    "<![CDATA[ <p>not a tag</p> ]]>tail", "<![cdata[x]]>", "<![if word]>c<![endif]>",
    "<![unknownkw]]>rest<p>gone?</p>", "<![", "<![CDATA[ unterminated",
    "<?php echo '>' ?>t", "<?pi", "<?>x",
    "a & b &amp; c &unknown; &#65; &#x41; &#; &notareal d",
    "&amp", "x&", "x&a", "text<1>more", "a < b > c",
    "<script>var s = '</div>' + \"<style>\";</script><p>kept</p>",
    "<script>unterminated <p>gone</p>",
    "<style>p { content: '</p>' }</style><p>kept</p>",
    "<sCrIpT>x</ScRiPt><p>k</p>", "<script >x</script ><p>k</p>",
    "<script>x</script\t><p>k</p>", "<script>a</scriptt></script><p>k</p>",
    "<title>t & s</title><p>k</p>",
    "<svg><rect/></svg><p>k</p>", "<SVG><p>hidden</p></svg><p>shown</p>",
    "<a href=/x>l</a>", "<a href= >l</a>", "<a =>l</a>", '<a "v">l</a>',
    "<p/ >x", "<p /x>y", "<div a='1'b='2'>x</div>",
    "<p >b", "<p//>e", "<p //>f", "<a href='x'/>h", "<a href=x/>i",
    "<p\x00a>l", "<p%>z", "<p!>w", "<p.>v", "<p:>u", "<a$ b>t",
    "<ul><li>one<li>two</ul>", "<table><tr><td>c</td></tr></table>",
    "\x00<p>nul</p>", "<p>tab\there</p>",
    "<p>é&eacute;</p>", "<p>&#233;</p>", "<p>&#xE9;</p>",
    "<p>trailing</p><", "<p>t</p><!", "<p>t</p></", "<p>t</p><!-",
    "<!--a--!>b", "<!--a--->c", "<![if]>x", "<![endif ]>y",
    "<a href='x'><b>bold link</b> plain</a> outside",
    "<form><input name=q><button>go</button></form><p>c</p>",
]


def test_fast_tokenizer_matches_stdlib_on_adversarial_markup():
    from jarvis_ocr_service_spark.operators.extract_html import (
        parse_blocks,
        parse_blocks_stdlib,
    )

    for h in ADVERSARIAL:
        assert _block_sig(parse_blocks(h)) == _block_sig(parse_blocks_stdlib(h)), repr(h)


def test_fast_tokenizer_matches_stdlib_on_random_fuzz():
    import random

    from jarvis_ocr_service_spark.operators.extract_html import (
        parse_blocks,
        parse_blocks_stdlib,
    )

    rng = random.Random(1234)
    pieces = [
        "<p>", "</p>", "<a href='x'>", "</a>", "<div>", "</div>", "<script>",
        "</script>", "<style>", "</style>", "<!--", "-->", "<!", "<![CDATA[",
        "]]>", "<![if x]>", "<![endif]>", "<?", "?>", "<", ">", "&", "&amp;",
        "&#65;", "&bogus", ";", "'", '"', "=", "/", "!", "text ", "word", " ",
        "\n", "\t", "é", "😀", "nav", "<nav>", "</nav>", "<br>", "<br/>",
        "<ul>", "<li>", "</li>", "</ul>", "<td>", "</td>", "x>y", "a<b",
        "<p >", "<p/>", "<p //>", "<a href=x/>",
    ]
    for _ in range(3000):
        h = "".join(rng.choice(pieces) for _ in range(rng.randint(0, 40)))
        assert _block_sig(parse_blocks(h)) == _block_sig(parse_blocks_stdlib(h)), repr(h)
