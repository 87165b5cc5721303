"""HTML main-content extraction: DOM block segmentation + boilerplate strip.

Built from scratch on the stdlib ``html.parser`` (no external HTML libs in
this environment): a single streaming pass over the markup collects *text
blocks* — contiguous text under the nearest block-level ancestor — tagged
with link-character counts and boilerplate-ancestry, i.e. the classic
text-density / link-density features of readability-style main-content
extraction (cf. Kohlschütter et al., "Boilerplate Detection Using Shallow
Text Features", WSDM 2010).

Two extraction tiers, mirroring the reference's cost-ordered cascade
(/root/reference/app/tier_mapping.py:18-26 — cheapest first, escalate on
invalid output):

  * ``extract_raw_blocks`` (tier "tesseract" analog): dumb full-text strip —
    every visible text block in document order, *including* boilerplate.
    Cheapest; on link-farm pages its output fails the downstream validator
    (many short navigation lines), which triggers escalation.
  * ``extract_main_blocks`` (tier "easyocr" analog): block classification —
    drops blocks inside nav/footer/header/aside/form subtrees and blocks
    whose link density exceeds LINK_DENSITY_MAX.

Both take the blocks ``parse_blocks`` returns, so the cascade parses a page
once for both tiers. Both return ``(text, spans)`` where ``text`` is the
newline-joined, normalize-stable concatenation of per-block normalized
texts and ``spans`` are character offsets ``(start, end, tag)`` of each
kept block inside ``text`` — the "extracted text plus character-span
offsets" contract.

Pure functions of the bytes; shared verbatim between the pytest oracle and
the Spark Arrow stage.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import List, Tuple

from jarvis_ocr_service_spark.operators.textops import normalize_text

# Subtrees that never contain visible text.
SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "svg", "head", "iframe", "title"}
)
# Subtrees that are boilerplate by role (stripped by extract_main_blocks).
BOILERPLATE_TAGS = frozenset(
    {"nav", "footer", "header", "aside", "form", "menu", "button"}
)
# Tags that delimit text blocks.
BLOCK_TAGS = frozenset(
    {
        "p", "div", "article", "section", "li", "ul", "ol", "h1", "h2", "h3",
        "h4", "h5", "h6", "td", "th", "tr", "table", "blockquote", "pre",
        "main", "body", "br", "figure", "figcaption", "dd", "dt", "dl", "hr",
    }
)
# Void tags never pushed on the open-element stack.
_VOID_TAGS = frozenset({"br", "hr", "img", "meta", "link", "input", "area", "base"})

# A block with link_chars/total_chars above this is dropped by
# extract_main_blocks.
LINK_DENSITY_MAX = 0.33


class Block:
    __slots__ = ("texts", "link_chars", "total_chars", "boiler", "tag", "_norm")

    def __init__(self, tag: str, boiler: bool):
        self.texts: List[str] = []
        self.link_chars = 0
        self.total_chars = 0
        self.boiler = boiler
        self.tag = tag
        self._norm: str | None = None  # lazy normalize_text cache (_assemble)

    @property
    def text(self) -> str:
        return "".join(self.texts)

    @property
    def link_density(self) -> float:
        return (self.link_chars / self.total_chars) if self.total_chars else 0.0


class _BlockCollector(HTMLParser):
    """One streaming pass: markup -> list[Block] in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: List[Block] = []
        self._skip_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._cur: Block | None = None
        self._cur_tag = "body"

    # -- block lifecycle ----------------------------------------------------
    def _flush(self) -> None:
        b = self._cur
        if b is not None and b.text.strip():
            self.blocks.append(b)
        self._cur = None

    def _ensure(self) -> Block:
        if self._cur is None:
            self._cur = Block(self._cur_tag, self._boiler_depth > 0)
        return self._cur

    # -- parser callbacks ---------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag in BLOCK_TAGS or tag in BOILERPLATE_TAGS:
            # Boilerplate tags (nav/footer/...) are block-level delimiters
            # too: text inside them must never merge into a content block.
            self._flush()
            if tag not in _VOID_TAGS:
                self._cur_tag = tag
        if tag in BOILERPLATE_TAGS:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag in BLOCK_TAGS or tag in BOILERPLATE_TAGS:
            self._flush()
        if tag in BOILERPLATE_TAGS:
            self._boiler_depth = max(0, self._boiler_depth - 1)
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not data:
            return
        b = self._ensure()
        b.texts.append(data)
        n = len(data.strip())
        b.total_chars += n
        if self._link_depth:
            b.link_chars += n

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def parse_blocks_stdlib(html: str) -> List[Block]:
    """Reference block parser on stdlib html.parser. Tolerant: never raises
    on malformed markup; a hard parser error yields the blocks seen so far.

    Kept as the equivalence oracle for :func:`parse_blocks` (the fast
    tokenizer) — tests/test_extract_html.py asserts block-for-block
    equality on fixtures, fuzz corpora, and adversarial markup."""
    c = _BlockCollector()
    try:
        c.feed(html)
        c.close()
    except Exception:
        c._flush()
    return c.blocks


# --- fast tokenizer -----------------------------------------------------
# Profiling (BENCH/BASELINE.md): ~72% of per-doc extraction time was
# stdlib html.parser internals — attribute-list construction, per-attr
# unescape, position tracking (updatepos), per-construct method dispatch —
# all of it unused by the block collector (it needs only tag names and
# text runs). This tokenizer replays the stdlib's EXACT tokenization
# (same tolerant regexes, same recovery rules for unterminated
# constructs, same CDATA handling for <script>/<style>) but emits events
# straight into inlined collector state. Event-sequence equality with
# _BlockCollector is pinned by tests (fixtures + fuzz + edge corpus).

from html import unescape as _unescape  # noqa: E402
from html.parser import (  # noqa: E402  (stdlib compiled regexes, public module)
    endendtag as _endendtag,
    endtagfind as _endtagfind,
    tagfind_tolerant as _tagfind,
    attrfind_tolerant as _attrfind,
    commentclose as _commentclose,
)
import re as _re  # noqa: E402

_FLUSH_TAGS = frozenset(BLOCK_TAGS | BOILERPLATE_TAGS)

# locatestarttagend_tolerant with the tag name captured (group 1) — same
# accepted language as the stdlib pattern, one regex pass instead of
# locate + tagfind. Kept textually in sync with html.parser.
_locatestart_cap = _re.compile(
    r"""
  <([a-zA-Z][^\t\n\r\f />\x00]*)       # tag name (captured)
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    _re.VERBOSE,
)
_CDATA_CLOSE = {
    elem: _re.compile(r"</\s*%s\s*>" % elem, _re.I) for elem in ("script", "style")
}
_MARKED_SECTION_CLOSE = _re.compile(r"]\s*]\s*>")
_MS_OFFICE_CLOSE = _re.compile(r"]\s*>")
_DECLNAME = _re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
# sentinel: stdlib raises AssertionError here, which parse_blocks_stdlib's
# try/except turns into "stop parsing, keep blocks so far" — mirrored.
_ABORT = -2


def parse_blocks(html: str) -> List[Block]:
    """Parse markup into text blocks — fast single-pass tokenizer,
    event-for-event identical to :func:`parse_blocks_stdlib`."""
    rawdata = html
    n = len(rawdata)
    i = 0

    blocks: List[Block] = []
    skip_depth = 0
    boiler_depth = 0
    link_depth = 0
    cur: Block | None = None
    cur_tag = "body"
    cdata_elem: str | None = None

    def flush() -> None:
        nonlocal cur
        if cur is not None and cur.text.strip():
            blocks.append(cur)
        cur = None

    def data(d: str) -> None:
        nonlocal cur
        if skip_depth or not d:
            return
        if cur is None:
            cur = Block(cur_tag, boiler_depth > 0)
        cur.texts.append(d)
        m = len(d.strip())
        cur.total_chars += m
        if link_depth:
            cur.link_chars += m

    def starttag(tag: str) -> None:
        nonlocal skip_depth, boiler_depth, link_depth, cur_tag
        if tag in SKIP_TAGS:
            skip_depth += 1
            return
        if skip_depth:
            return
        if tag in _FLUSH_TAGS:
            flush()
            if tag not in _VOID_TAGS:
                cur_tag = tag
        if tag in BOILERPLATE_TAGS:
            boiler_depth += 1
        if tag == "a":
            link_depth += 1

    def endtag(tag: str) -> None:
        nonlocal skip_depth, boiler_depth, link_depth
        if tag in SKIP_TAGS:
            skip_depth = max(0, skip_depth - 1)
            return
        if skip_depth:
            return
        if tag in _FLUSH_TAGS:
            flush()
        if tag in BOILERPLATE_TAGS:
            boiler_depth = max(0, boiler_depth - 1)
        if tag == "a":
            link_depth = max(0, link_depth - 1)

    find = rawdata.find
    startswith = rawdata.startswith

    while i < n:
        # -- text run ------------------------------------------------------
        if cdata_elem is None:
            j = find("<", i)
            if j < 0:
                j = n
            if i < j:
                d = rawdata[i:j]
                data(_unescape(d) if "&" in d else d)
            i = j
            if i == n:
                break
        else:
            m = _CDATA_CLOSE[cdata_elem].search(rawdata, i)
            if m is None:
                # EOF inside <script>/<style>: stdlib drops the rest
                return _finish(blocks, cur)
            # raw data (skipped by the collector anyway — script/style
            # are SKIP_TAGS — but replay the event for exactness)
            data(rawdata[i : m.start()])
            i = m.start()

        # -- markup at rawdata[i] == '<' ------------------------------------
        c1 = rawdata[i + 1] if i + 1 < n else ""
        if ("a" <= c1 <= "z") or ("A" <= c1 <= "Z"):
            # start tag (parse_starttag + check_for_whole_start_tag)
            m = _locatestart_cap.match(rawdata, i)
            j = m.end()
            nxt = rawdata[j : j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/":
                if startswith("/>", j):
                    endpos = j + 2
                else:
                    endpos = -1  # stdlib: bogus '/', incomplete at EOF
            elif nxt == "":
                endpos = -1
            elif nxt in (
                "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
            ):
                endpos = -1
            else:
                endpos = j if j > i else i + 1
            if endpos < 0:
                i = _recover(rawdata, i, data, find)
                continue
            tag = m.group(1).lower()
            k = m.end(1)
            if k == j and endpos > j:
                # attr-less tag (`<p>`, `<li>`, ... — the common case):
                # tagfind/attrfind can consume nothing past the name, so
                # `end` is exactly the tag closer — skip the attr loop
                end = rawdata[j:endpos]
            else:
                # stdlib parse_starttag: tagfind consumes the name plus
                # (?:\s|/(?!>))*, then the attr loop advances k
                tm = _tagfind.match(rawdata, i + 1)
                k = tm.end()
                while k < endpos:
                    am = _attrfind.match(rawdata, k)
                    if not am:
                        break
                    k = am.end()
                end = rawdata[k:endpos].strip()
            if end not in (">", "/>"):
                data(rawdata[i:endpos])  # bogus start tag -> raw data
                i = endpos
                continue
            if end == "/>":
                starttag(tag)
                endtag(tag)
            else:
                starttag(tag)
                if tag in ("script", "style"):
                    cdata_elem = tag
            i = endpos
        elif c1 == "/":
            # end tag (parse_endtag)
            gm = _endendtag.search(rawdata, i + 1)
            if not gm:
                i = _recover(rawdata, i, data, find)
                continue
            gtpos = gm.end()
            em = _endtagfind.match(rawdata, i)
            if not em:
                if cdata_elem is not None:
                    data(rawdata[i:gtpos])
                    i = gtpos
                    continue
                nm = _tagfind.match(rawdata, i + 2)
                if not nm:
                    if rawdata[i : i + 3] == "</>":
                        i = i + 3
                        continue
                    # bogus comment: consume through next '>'
                    pos = find(">", i + 2)
                    if pos == -1:
                        i = _recover(rawdata, i, data, find)
                        continue
                    i = pos + 1
                    continue
                tagname = nm.group(1).lower()
                gtpos = find(">", nm.end())
                endtag(tagname)
                i = gtpos + 1
                continue
            elem = em.group(1).lower()
            if cdata_elem is not None and elem != cdata_elem:
                data(rawdata[i:gtpos])
                i = gtpos
                continue
            endtag(elem)
            cdata_elem = None
            i = gtpos
        elif startswith("<!--", i):
            m = _commentclose.search(rawdata, i + 4)
            if not m:
                i = _recover(rawdata, i, data, find)
                continue
            i = m.end()
        elif c1 == "?":
            pos = find(">", i + 2)
            if pos == -1:
                i = _recover(rawdata, i, data, find)
                continue
            i = pos + 1
        elif c1 == "!":
            i2 = _html_declaration(rawdata, i, find)
            if i2 == _ABORT:
                return _finish(blocks, cur)
            if i2 < 0:
                i = _recover(rawdata, i, data, find)
                continue
            i = i2
        elif i + 1 < n:
            data("<")
            i += 1
        else:
            # lone '<' at EOF: emitted as trailing data by the end block
            data("<")
            i = n
            break

    return _finish(blocks, cur)


def _finish(blocks: List[Block], cur: Block | None) -> List[Block]:
    if cur is not None and cur.text.strip():
        blocks.append(cur)
    return blocks


def _recover(rawdata: str, i: int, data, find) -> int:
    """stdlib goahead(end=1) recovery for an unterminated construct:
    consume through the next '>' (or up to the next '<', or one char) and
    emit the consumed slice as (unescaped) data."""
    k = find(">", i + 1)
    if k < 0:
        k = find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    d = rawdata[i:k]
    data(_unescape(d) if "&" in d else d)
    return k


def _html_declaration(rawdata: str, i: int, find) -> int:
    """stdlib parse_html_declaration for '<!' constructs (comments are
    dispatched before this). Returns new index or -1 (unterminated)."""
    if rawdata[i : i + 4] == "<!--":  # pragma: no cover — handled earlier
        m = _commentclose.search(rawdata, i + 4)
        return m.end() if m else -1
    if rawdata[i : i + 3] == "<![":
        return _marked_section(rawdata, i)
    if rawdata[i : i + 9].lower() == "<!doctype":
        gtpos = find(">", i + 9)
        if gtpos == -1:
            return -1
        return gtpos + 1
    # bogus comment
    pos = find(">", i + 2)
    if pos == -1:
        return -1
    return pos + 1


def _marked_section(rawdata: str, i: int) -> int:
    """_markupbase.parse_marked_section semantics: consume '<![keyword
    ... ]]>' (']>' for the MS-Office if/else/endif flavor). Returns the
    new index, -1 (unterminated at EOF -> recovery), or _ABORT (stdlib
    raises AssertionError on a bad/unknown keyword -> whole parse stops,
    blocks so far kept)."""
    n = len(rawdata)
    if i + 3 == n:
        return -1  # '<![' at EOF -> incomplete (stdlib _scan_name i==n)
    m = _DECLNAME.match(rawdata, i + 3)
    if not m:
        return _ABORT  # no name token -> stdlib raises
    s = m.group()
    if i + 3 + len(s) == n:
        return -1  # name runs to EOF -> incomplete
    name = s.strip().lower()
    if name in ("temp", "cdata", "ignore", "include", "rcdata"):
        close = _MARKED_SECTION_CLOSE.search(rawdata, i + 3)
    elif name in ("if", "else", "endif"):
        close = _MS_OFFICE_CLOSE.search(rawdata, i + 3)
    else:
        return _ABORT  # unknown keyword -> stdlib raises
    if not close:
        return -1
    return close.end()


def _assemble(blocks: List[Block]) -> Tuple[str, List[Tuple[int, int, str]]]:
    """Join per-block normalized texts with '\\n'; emit char-span offsets.

    The result is normalize_text-stable (each piece is stripped and holds at
    most 2 consecutive newlines, and single-'\\n' joins cannot create a
    3-newline run), so the pipeline's normalize pass is an idempotent no-op
    on it — keeping the U9 stage order faithful without double-transforming.
    """
    parts: List[str] = []
    spans: List[Tuple[int, int, str]] = []
    pos = 0
    for b in blocks:
        # cached per block: the cascade assembles the same parsed blocks for
        # tier-1 and (on escalation) the tier-2 subset — normalize each
        # block's text once per document, not once per tier.
        t = b._norm
        if t is None:
            t = b._norm = normalize_text(b.text)
        if not t:
            continue
        if parts:
            pos += 1  # the joining '\n'
        spans.append((pos, pos + len(t), b.tag))
        parts.append(t)
        pos += len(t)
    return "\n".join(parts), spans


def extract_raw_blocks(blocks: List[Block]) -> Tuple[str, List[Tuple[int, int, str]]]:
    """Tier-1 over pre-parsed blocks: full visible text, boilerplate
    included (cheapest pass)."""
    return _assemble(blocks)


def extract_main_blocks(blocks: List[Block]) -> Tuple[str, List[Tuple[int, int, str]]]:
    """Tier-2 over pre-parsed blocks: main content only — boilerplate
    subtrees and link-dense blocks removed."""
    return _assemble(
        [b for b in blocks if not b.boiler and b.link_density <= LINK_DENSITY_MAX]
    )

