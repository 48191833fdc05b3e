"""Selector-engine tests over the exact syntax surface of
/root/reference/src/web.json (type, .class, #id, [attr], [attr="v"],
descendant, child). Includes an independent-oracle cross-check in the
spirit of the reference's htmlq test (main.rs:1097-1135)."""

import os

import pytest

from img_spark.functions.dom import Document

# the reference crate's site config; not shipped with this repository
WEB_JSON = "/root/reference/src/web.json"

HTML = """
<html><head><title>T</title></head><body>
<div id="content" class="content main">
  <p align="center"><img src="/1.jpg"><img src="/2.jpg"></p>
  <article class="article-content"><img data-src="/3.jpg"></article>
  <div class="pagination"><a href="/p1">1</a><a href="/p2">2</a></div>
  <figure class="wp-block-image size-large"><img src="/4.jpg"></figure>
  <h2 class="font-semibold">x</h2>
  <a data-fancybox="gallery" href="/g1">g</a>
  <a href>bare</a>
  <ul><li class="related_boxindex"><a href="/a1">A</a></li></ul>
  <div><span class="title">inner</span></div>
</div>
</body></html>
"""


def sel(s):
    return Document(HTML).select(s)


def test_type():
    assert [e.attr("src") for e in sel("img")] == ["/1.jpg", "/2.jpg", None, "/4.jpg"]


def test_class_conjunction():
    assert len(sel("figure.wp-block-image.size-large img")) == 1
    assert len(sel("figure.wp-block-image.nope img")) == 0


def test_id_and_id_class():
    assert len(sel("div#content")) == 1
    assert len(sel("div#content.content")) == 1
    assert len(sel("div#content.nope")) == 0


def test_attr_equals_descendant():
    assert [e.attr("src") for e in sel('p[align="center"] img')] == ["/1.jpg", "/2.jpg"]


def test_attr_presence():
    assert [e.attr("href") for e in sel("a[href]")] == ["/p1", "/p2", "/g1", "", "/a1"]
    assert sel('a[data-fancybox="gallery"][href]')[0].attr("href") == "/g1"


def test_child_combinator():
    assert len(sel("div > span.title")) == 1
    assert len(sel("ul > a")) == 0  # a is grandchild of ul
    assert len(sel("ul a")) == 1


def test_document_order():
    hrefs = [e.attr("href") for e in sel("a")]
    assert hrefs == ["/p1", "/p2", "/g1", "", "/a1"]


def test_element_api():
    d = Document(HTML)
    p = d.select('p[align="center"]')[0]
    kids = p.children()
    assert [k.tag() for k in kids] == ["img", "img"]
    assert kids[0].parent() is p
    li = d.select("li.related_boxindex")[0]
    assert li.text() == "A"
    assert d.select("title")[0].text() == "T"
    # subtree select
    assert li.select("a[href]")[0].attr("href") == "/a1"


def test_text_none_and_whitespace():
    d = Document("<html><body><div id='e'></div><div id='w'> </div></body></html>")
    assert d.select("div#e")[0].text() is None
    assert d.select("div#w")[0].text() == " "


def test_entity_decoding_in_attrs_and_text():
    d = Document('<html><body><a href="/x?a=1&amp;b=2" title="&quot;q&quot;">A&amp;B</a></body></html>')
    a = d.select("a")[0]
    assert a.attr("href") == "/x?a=1&b=2"
    assert a.attr("title") == '"q"'
    assert a.text() == "A&B"


def test_void_and_selfclosing():
    d = Document("<html><body><div><img src='/i.jpg'><br><p>t</p></div></body></html>")
    div = d.select("div")[0]
    assert [c.tag() for c in div.children()] == ["img", "br", "p"]


def test_oracle_crosscheck_counts():
    """Independent oracle: re-derive selector hits via a from-first-
    principles matcher (regex-free walk) and compare counts — the
    engine analogue of the reference's htmlq cross-validation."""
    d = Document(HTML)

    def naive_count_tag_class(tag, classes):
        n = 0
        for el in d.iter_elements():
            if el.tag() != tag:
                continue
            toks = (el.attr("class") or "").split()
            if all(c in toks for c in classes):
                n += 1
        return n

    assert len(sel("div.pagination")) == naive_count_tag_class("div", ["pagination"])
    assert len(sel("figure.wp-block-image.size-large")) == naive_count_tag_class(
        "figure", ["wp-block-image", "size-large"]
    )


@pytest.mark.skipif(not os.path.exists(WEB_JSON),
                    reason="reference web.json not present")
def test_all_webjson_selectors_parse():
    import json

    from img_spark.functions.selector import parse_selector

    cfg = json.load(open(WEB_JSON))
    for e in cfg:
        for k in ("Img", "Next", "Album"):
            v = e.get(k)
            if not v or v == "<script>" or v.startswith("json:"):
                continue
            for part in v.split(" | "):
                parts = parse_selector(part)
                assert parts, part
