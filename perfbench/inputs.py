"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: one seed gives
byte-identical tables, and every seed keeps the same structural
properties (pages per generation, host skew, images per page,
boilerplate share, planted duplicate counts). Only names, image paths,
per-page image counts (a shuffled fixed multiset) and prose words move
with the seed. The engine sees nothing but the written tables; the
expectations returned beside them (link graph, planted image sets,
planted duplicates) stay on the benchmark side as the output oracle.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 10, 16)
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])

# a fixed English vocabulary: enough stopwords that lang_id says 'en'
# and the Gopher gates keep every document
_WORDS = (
    "the of and to in is that it for on with as was at by this from be are "
    "or an have not which but all were when we there can been has more one "
    "photo album gallery picture light shadow river mountain city street "
    "morning evening portrait colour frame lens window garden harbour bridge "
    "market winter summer autumn spring forest island station tower square "
    "museum festival travel journey coast valley meadow village castle "
    "cathedral lantern bicycle market orchard quiet bright narrow ancient "
    "golden silver crowded empty distant hidden open early late soft sharp"
).split()


def _token(rng: random.Random, n: int = 5) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))


def _prose(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    # a per-document serial word keeps two prose documents from ever
    # colliding on text, whatever the seed
    words.insert(n_words // 2, _token(rng, 8))
    return " ".join(words)


def _balanced(rng: random.Random, n: int, base: int, var: int) -> list:
    """n counts from base..base+var-1 in equal shares, shuffled: the sum
    (and so the planted image total) is the same for every seed."""
    out = [base + i % var for i in range(n)]
    rng.shuffle(out)
    return out


@dataclass
class Gallery:
    rows: list                      # (url, warc_ts, html, text, lang)
    config: list                    # site-config entries
    seeds: list                     # index-page urls
    children: dict                  # url -> planted frontier links
    images: dict                    # url -> frozenset of absolute img urls
    hosts: list

    @property
    def image_total(self) -> int:
        return sum(len(v) for v in self.images.values())


def gallery(seed: int, hosts: int, albums: int, pages_per_album: int,
            skew: int, featured: int = 2, imgs_base: int = 3,
            imgs_var: int = 5, paragraphs: int = 1) -> Gallery:
    """A gallery-site web: per host one index page listing its albums
    (plus ``featured`` albums listed twice — planted duplicate links the
    seen set must reject), each album a chain of ``pages_per_album``
    pages joined by prev/next pagination. Host 0 carries ``skew``× the
    albums of the others. Seeded with the index pages and every album's
    first page, a table-mode crawl fetches one page of every album per
    generation: ``albums * (hosts - 1 + skew)`` pages (plus the index
    pages in generation 1) for ``pages_per_album`` generations."""
    rng = random.Random(seed)
    tag = _token(rng, 4)
    names = [f"{tag}{h}.gallery" for h in range(hosts)]
    n_albums = [albums * skew if h == 0 else albums for h in range(hosts)]
    n_pages = sum(n_albums) * pages_per_album
    counts = iter(_balanced(rng, n_pages, imgs_base, imgs_var))
    rows, children, images = [], {}, {}

    def add(url, html, text):
        rows.append((url, EPOCH + dt.timedelta(seconds=len(rows)),
                     html.encode(), text, "en"))

    for h, host in enumerate(names):
        base = f"http://{host}"
        album_ids = [f"{_token(rng, 3)}{a}" for a in range(n_albums[h])]
        listed = album_ids + album_ids[:featured]
        title = f"Index of {host}"
        links = "".join(
            f'<a href="/{a}/1" title="Album {a}">Album {a}</a>' for a in listed
        )
        add(f"{base}/",
            f"<html><head><title>{title}</title></head><body>"
            f'<div class="alblist">{links}</div></body></html>',
            title + "".join(f"Album {a}" for a in listed))
        children[f"{base}/"] = [f"{base}/{a}/1" for a in listed]
        images[f"{base}/"] = frozenset()
        for a in album_ids:
            for p in range(1, pages_per_album + 1):
                url = f"{base}/{a}/{p}"
                k = next(counts)
                srcs, absolute = [], set()
                for j in range(k):
                    name = f"{_token(rng, 6)}{j}.jpg"
                    if j % 2 == 0:
                        srcs.append(f"/img/{a}/{p}/{name}")
                        absolute.add(f"{base}/img/{a}/{p}/{name}")
                    else:
                        cdn = f"http://cdn{h}.{tag}.photos/{a}/{p}/{name}"
                        srcs.append(cdn)
                        absolute.add(cdn)
                title = f"Gallery {a} Page {p} - {host}"
                paras = [_prose(rng, 24) for _ in range(paragraphs)]
                # the last page carries no pagination anchors: a lone
                # prev link would read as "next" and loop the crawl back
                pg = []
                if 1 < p < pages_per_album:
                    pg.append(f'<a href="/{a}/{p - 1}">prev</a>')
                pg.append(f'<span class="current">{p}</span>')
                if p < pages_per_album:
                    pg.append(f'<a href="/{a}/{p + 1}">next page</a>')
                add(url,
                    f"<html><head><title>{title}</title></head><body>"
                    '<div class="photo">'
                    + "".join(f'<img src="{s}">' for s in srcs)
                    + "</div>"
                    + "".join(f"<p>{t}</p>" for t in paras)
                    + f'<div class="pg">{"".join(pg)}</div></body></html>',
                    title + "".join(paras))
                images[url] = frozenset(absolute)
                children[url] = (
                    [f"{base}/{a}/{p + 1}"] if p < pages_per_album else []
                )
    config = [{"Site": ",".join(names), "Img": "div.photo img",
               "Next": "div.pg a", "Album": "div.alblist a"}]
    # seeds: every index page and every album's first page, so each
    # generation fetches about the same number of pages; the index
    # pages' album links then all re-discover seeds (duplicates)
    seeds = [u for u in children if u.endswith("/") or u.endswith("/1")]
    return Gallery(rows, config, seeds, children, images, names)


@dataclass
class Documents:
    rows: list                      # pages-table rows (html is empty)
    exact_copies: list              # doc ids that must be is_dup
    near_copies: list               # doc ids that must be is_near_dup
    originals: list                 # prose doc ids that must stay clean
    boilerplate_share: float        # template tokens / all tokens


def documents(seed: int, hosts: int, templated: int, prose: int,
              exact: int, near: int) -> Documents:
    """Corpus-curation input: per host ``templated`` gallery-text
    documents sharing a host-specific boilerplate header and footer,
    ``prose`` distinct prose documents, ``exact`` verbatim copies and
    ``near`` one-word-edited copies of prose documents. A copy's doc id
    sorts after its original's, so the keep-the-min-id policy flags the
    copy."""
    rng = random.Random(seed ^ 0x5EED)
    tag = _token(rng, 4)
    names = [f"{tag}{h}.corpus" for h in range(hosts)]
    rows, template_tokens, all_tokens = [], 0, 0

    def add(url, text):
        nonlocal all_tokens
        all_tokens += len(text.split())
        rows.append((url, EPOCH + dt.timedelta(seconds=len(rows)), b"",
                     text, "en"))

    for h, host in enumerate(names):
        # ~80% of a templated document is its host's boilerplate, so
        # same-host pairs share most shingles (Jaccard ~0.65): most of
        # them collide in some LSH band yet none verifies at 0.8
        head = _prose(rng, 60)
        foot = _prose(rng, 40)
        for i in range(templated):
            body = _prose(rng, 24)
            template_tokens += len(head.split()) + len(foot.split())
            add(f"http://{host}/g/{i:05d}", f"{head} {body} {foot}")
    originals = []
    for i in range(prose):
        host = names[i % hosts]
        url = f"http://{host}/p/{i:05d}"
        add(url, _prose(rng, 180))
        originals.append((url, rows[-1][3]))
    picks = rng.sample(range(prose), exact + near)
    exact_ids, near_ids = [], []
    for n, i in enumerate(picks):
        url, text = originals[i]
        copy = url.replace("/p/", "/z/")
        if n < exact:
            exact_ids.append(copy)
            add(copy, text)
        else:
            words = text.split()
            # one edited word deep inside a 180-word document: Jaccard
            # of the 3-shingle sets stays ~0.98, far above the 0.8
            # threshold, and the 8x4 LSH bands miss it with p < 1e-6
            k = 60 + rng.randrange(60)
            words[k] = _token(rng, 7)
            near_ids.append(copy)
            add(copy, " ".join(words))
    return Documents(rows, exact_ids, near_ids, [u for u, _ in originals],
                     template_tokens / all_tokens)


def write_pages(rows: list, path: str, files: int) -> None:
    """Write rows as ``files`` parquet files of near-equal size (the
    scan's split count, so tasks balance over the local cores)."""
    import os

    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)],
        schema=PAGES_SCHEMA,
    )
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
