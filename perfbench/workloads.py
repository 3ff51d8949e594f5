"""Seeded inputs and their oracle for the benchmark workloads.

Everything here is plain Python driven by one ``random.Random(seed)``:
the same (workload, seed) gives byte-identical inputs, and the engine
only ever sees what these builders return — pages, site-config
entries, robots rows, seeds and documents. The oracle (reachable URL
set, robots-disallowed set, dead links, planted duplicate clusters) is
known by construction, never by running engine code.

A crawl web is a set of hosts with fixed-width names (``s007-1a2b.test``)
so the engine's suffix-matching site-config lookup can only match a
host's own entry. Page kinds:

- ``/``            index: album list (``div.alblist a``) — no images, so
                   the extractor follows its links;
- ``/a{a}/{p}``    gallery page ``p`` of album ``a``: images in
                   ``div.photo`` (or ``a.thumb`` links on two-level hosts),
                   pagination in ``div.pg``; images stop album recursion,
                   so only the next link is followed;
- ``/c{k}/{p}``    listing page (link-dense webs): a sidebar of album
                   links and a next link, no images;
- ``/a{a}/p{p}/t{j}.html``  photo page behind a two-level gallery page
                   (fetched by the second-level pass, not a frontier URL).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
import re
from dataclasses import dataclass, field

IMG_SEL = "div.photo img"
TWO_LEVEL_SEL = "a.thumb[href] | img.big"
NEXT_SEL = "div.pg a"
ALBUM_SEL = "div.alblist a"

# robots rules every host carries: a plain Disallow prefix and a
# wildcard rule (RFC 9309 '*'), so admission exercises both matchers
PRIVATE_PREFIX = "/private/"
PRINT_PATTERN = "/*?print="

_EPOCH = dt.datetime(2024, 10, 16)

_WORDS = (
    "the and of to a in is it that for gallery photo album light color "
    "street night river garden portrait city winter summer travel market "
    "mountain harbor station bridge window morning evening shadow archive "
    "festival museum coast forest field road tower square corner season "
    "camera lens frame print paper film studio series collection detail"
).split()


# ------------------------------------------------------------------ crawl
@dataclass(frozen=True)
class WebSpec:
    hosts: int
    albums: int                 # albums per host
    pages_per_album: int        # pagination chain length
    imgs: tuple = (3, 8)        # images per gallery page (inclusive range)
    paragraphs: int = 1         # text paragraphs per gallery page
    skew: int = 1               # host 0 carries skew x the albums
    two_level_hosts: int = 0    # hosts using the two-level selector
    thumbs: int = 4             # photo pages per two-level gallery page
    listings: int = 0           # listing chains per host (link-dense webs)
    listing_pages: int = 0      # pages per listing chain
    sidebar: int = 0            # links in each listing page's sidebar
    cross_host: float = 0.0     # share of sidebar links to other hosts
    blocked: float = 0.0        # share of sidebar links robots block
    dead_links: int = 1         # links per host to pages that do not exist
    slow_hosts: int = 0         # hosts whose robots Crawl-delay caps budget
    host_budget: int = 1
    seed_index: bool = True     # seed the index pages (False: their links)


@dataclass
class CrawlWeb:
    pages: dict                 # url -> html bytes (the pages table)
    config: list                # web.json-shaped site-config entries
    robots: list                # (host, path_prefix, allow, crawl_delay)
    seeds: list
    host_budget: int
    host_selectors: dict        # host -> (img_sel, next_sel, album_sel)
    # oracle
    reachable: set = field(default_factory=set)   # admitted and fetchable
    dead: set = field(default_factory=set)        # admitted, not in pages
    disallowed: set = field(default_factory=set)  # discovered, robots-blocked
    links: dict = field(default_factory=dict)     # url -> followed links


def _host_names(rng: random.Random, n: int) -> list:
    tag = "%04x" % rng.getrandbits(16)
    return [f"s{h:03d}-{tag}.test" for h in range(n)]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _pager(p: int, n: int) -> str:
    # prev / current / next, the shape check_next resolves to the next
    # link; the last page emits no anchor at all (a lone prev link
    # would be read as the next link and loop the chain back)
    if n <= 1 or p >= n:
        return '<div class="pg"><span class="current">%d</span></div>' % p
    prev = '<a href="%d">prev</a>' % (p - 1) if p > 1 else ""
    return (
        '<div class="pg">%s<span class="current">%d</span>'
        '<a href="%d">next page</a></div>' % (prev, p, p + 1)
    )


def _doc(title: str, body: str) -> bytes:
    return (
        "<html><head><title>%s</title></head><body>%s</body></html>"
        % (title, body)
    ).encode()


def robots_blocked(path: str) -> bool:
    """The oracle's robots decision for the rules every host carries."""
    return path.startswith(PRIVATE_PREFIX) or re.match(
        r"^/.*\?print=", path
    ) is not None


def make_web(spec: WebSpec, seed: int) -> CrawlWeb:
    rng = random.Random(seed)
    hosts = _host_names(rng, spec.hosts)
    two_level = set(hosts[len(hosts) - spec.two_level_hosts:]) \
        if spec.two_level_hosts else set()
    pages: dict = {}
    selectors: dict = {}
    robots: list = []
    for hi, host in enumerate(hosts):
        base = f"http://{host}"
        tl = host in two_level
        selectors[host] = (TWO_LEVEL_SEL if tl else IMG_SEL, NEXT_SEL, ALBUM_SEL)
        n_alb = spec.albums * (spec.skew if hi == 0 else 1)
        robots.append((host, PRIVATE_PREFIX, False, 0.0))
        robots.append((host, PRINT_PATTERN, False, 0.0))
        # a Crawl-delay caps the host's per-generation budget at
        # batch_window_s / delay (60 / 7.5 = 8 URLs), so its frontier is
        # held across generations
        delay = 7.5 if hi < spec.slow_hosts else 0.0
        robots.append((host, "/", True, delay))

        # index: every album, every listing chain, one blocked album
        # and the host's dead links
        idx = [f"/a{a}/1" for a in range(n_alb)]
        idx += [f"/c{k}/1" for k in range(spec.listings)]
        idx.append(f"{PRIVATE_PREFIX}a0/1")
        idx += [f"/gone/{k}" for k in range(spec.dead_links)]
        body = '<div class="alblist">' + "".join(
            '<a href="%s" title="album %d">%s</a>' % (u, i, _words(rng, 2))
            for i, u in enumerate(idx)
        ) + "</div>"
        pages[base + "/"] = _doc(f"Index of {host}", body)

        for a in range(n_alb):
            for p in range(1, spec.pages_per_album + 1):
                url = f"{base}/a{a}/{p}"
                if tl:
                    photo = "".join(
                        '<a class="thumb" href="/a%d/p%d/t%d.html">%s</a>'
                        % (a, p, j, _words(rng, 1))
                        for j in range(spec.thumbs)
                    )
                    for j in range(spec.thumbs):
                        pages[f"{base}/a{a}/p{p}/t{j}.html"] = _doc(
                            f"Photo {a}.{p}.{j}",
                            '<img class="big" src="http://cdn.%s/a%d/p%d/f%d'
                            '.jpg"><p>%s</p>' % (host, a, p, j, _words(rng, 8)),
                        )
                else:
                    n = rng.randint(*spec.imgs)
                    photo = '<div class="photo">' + "".join(
                        ('<img src="/static/a%d/p%d/i%d.jpg">' % (a, p, j))
                        if j % 2 == 0 else
                        ('<img src="http://cdn.%s/a%d/p%d/i%d.jpg">'
                         % (host, a, p, j))
                        for j in range(n)
                    ) + "</div>"
                text = "".join(
                    "<p>%s.</p>" % _words(rng, 40)
                    for _ in range(spec.paragraphs)
                )
                pager = _pager(p, spec.pages_per_album).replace(
                    'href="', f'href="/a{a}/'
                )
                pages[url] = _doc(
                    f"Gallery {a} page {p} of {host}", photo + text + pager
                )

        for k in range(spec.listings):
            for p in range(1, spec.listing_pages + 1):
                side = []
                for _ in range(spec.sidebar):
                    r = rng.random()
                    a = rng.randrange(spec.albums)
                    if r < spec.blocked / 2:
                        side.append(f"{PRIVATE_PREFIX}a{a}/1")
                    elif r < spec.blocked:
                        side.append(f"/a{a}/1?print=1")
                    elif r < spec.blocked + spec.cross_host:
                        other = hosts[rng.randrange(len(hosts))]
                        side.append(f"http://{other}/a{a}/1")
                    else:
                        side.append(f"/a{a}/1")
                side = list(dict.fromkeys(side))  # one link per target
                body = '<div class="alblist">' + "".join(
                    '<a href="%s">%s</a>' % (u, _words(rng, 2)) for u in side
                ) + "</div>" + _pager(p, spec.listing_pages).replace(
                    'href="', f'href="/c{k}/'
                )
                pages[f"{base}/c{k}/{p}"] = _doc(
                    f"Listing {k} page {p} of {host}", body
                )

    config = [{"Site": ",".join(h for h in hosts if h not in two_level),
               "Img": IMG_SEL, "Next": NEXT_SEL, "Album": ALBUM_SEL}]
    if two_level:
        config.append({"Site": ",".join(sorted(two_level)),
                       "Img": TWO_LEVEL_SEL, "Next": NEXT_SEL,
                       "Album": ALBUM_SEL})
    seeds = [f"http://{h}/" for h in hosts]
    if not spec.seed_index:
        seeds = [u for s in seeds for u in _followed_links(s, pages[s])]
    web = CrawlWeb(
        pages=pages, config=config, robots=robots, seeds=seeds,
        host_budget=spec.host_budget, host_selectors=selectors,
    )
    _solve(web)
    return web


_HREF = re.compile(r'<a (?:class="thumb" )?href="([^"]*)"')


def _followed_links(url: str, html: bytes) -> list:
    """The frontier links a page yields by construction: album-list
    links when the page has no images, plus the pagination next link."""
    s = html.decode()
    host = url.split("/")[2]
    out = []
    has_imgs = '<div class="photo">' in s or 'class="thumb"' in s
    if '<div class="alblist">' in s and not has_imgs:
        block = s.split('<div class="alblist">', 1)[1].split("</div>", 1)[0]
        out += _HREF.findall(block)
    if "next page" in s:
        block = s.split('<div class="pg">', 1)[1].split("</div>", 1)[0]
        out.append(_HREF.findall(block)[-1])
    return [u if u.startswith("http") else f"http://{host}{u}" for u in out]


def _solve(web: CrawlWeb) -> None:
    """Breadth-first closure of the seeds over the followed links:
    robots-blocked URLs are recorded and not followed, admitted URLs
    absent from the pages table are dead (fetch_failed)."""
    seen = set()
    todo = list(web.seeds)
    while todo:
        nxt = []
        for url in todo:
            if url in seen:
                continue
            seen.add(url)
            path = "/" + url.split("/", 3)[3]
            if robots_blocked(path):
                web.disallowed.add(url)
                continue
            html = web.pages.get(url)
            if html is None:
                web.dead.add(url)
                continue
            web.reachable.add(url)
            web.links[url] = _followed_links(url, html)
            nxt += web.links[url]
        todo = nxt


def pages_rows(web: CrawlWeb) -> list:
    """(url, warc_ts, html, text, lang) rows, the pages-table schema."""
    rows = []
    for i, (url, html) in enumerate(sorted(web.pages.items())):
        rows.append((url, _EPOCH + dt.timedelta(seconds=i), html, "", "en"))
    return rows


# ----------------------------------------------------------------- curate
@dataclass(frozen=True)
class CorpusSpec:
    docs: int                   # unique base documents
    words: tuple = (80, 200)
    exact_clusters: int = 0     # clusters of whitespace/case variants
    near_clusters: int = 0      # clusters of lightly edited copies
    cluster_size: tuple = (2, 5)
    edit_share: float = 0.03    # words replaced in a near-dup copy
    boilerplate: int = 0        # docs sharing one template (hot LSH bucket)


@dataclass
class Corpus:
    docs: list                  # (doc_id, host, title, text, generation)
    exact_clusters: list        # lists of doc ids with equal normalized text
    near_clusters: list         # lists of doc ids planted as near-dups
    boilerplate: list           # doc ids of the template docs


def make_corpus(spec: CorpusSpec, seed: int) -> Corpus:
    rng = random.Random(seed)
    texts: list = []
    exact, near = [], []

    def base():
        return _words(rng, rng.randint(*spec.words)) + "."

    for _ in range(spec.docs):
        texts.append(base())
    for _ in range(spec.exact_clusters):
        t = base()
        members = [len(texts)]
        texts.append(t)
        for _ in range(rng.randint(*spec.cluster_size) - 1):
            # case and whitespace variants normalize to the same text
            v = "  " + t.upper().replace(" ", "  \n ", 3)
            members.append(len(texts))
            texts.append(v)
        exact.append(members)
    for _ in range(spec.near_clusters):
        words = base().split()
        members = [len(texts)]
        texts.append(" ".join(words))
        for _ in range(rng.randint(*spec.cluster_size) - 1):
            w = list(words)
            for _ in range(max(1, int(len(w) * spec.edit_share))):
                w[rng.randrange(len(w))] = "edit%d" % rng.randrange(10 ** 6)
            members.append(len(texts))
            texts.append(" ".join(w))
        near.append(members)
    template = _words(rng, 120)
    boiler = []
    for i in range(spec.boilerplate):
        boiler.append(len(texts))
        texts.append(f"{template} listing {i} of the archive.")

    order = list(range(len(texts)))
    rng.shuffle(order)
    ids = {old: "doc-%06d" % new for new, old in enumerate(order)}
    docs = [
        (ids[i], "h%02d.corpus.test" % (i % 16), None, texts[i], 0)
        for i in range(len(texts))
    ]
    docs.sort()
    return Corpus(
        docs=docs,
        exact_clusters=[[ids[i] for i in c] for c in exact],
        near_clusters=[[ids[i] for i in c] for c in near],
        boilerplate=[ids[i] for i in boiler],
    )


# -------------------------------------------------------------- workloads
@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                   # 'crawl' | 'curate'
    spec: object
    warmup: object              # a small spec of the same shape


# Every workload is a closed-loop batch job driven by one thread; each
# comment says which layer it loads and why it exists.
WORKLOADS = {
    # Many small generations: a few hundred pages each (budget 2 per
    # host, long pagination chains, one skewed host). The fixed
    # per-generation cost (plan construction, job scheduling, commit)
    # is nearly all of the wall, so a step()/plan-hoisting change shows
    # here and an extract or probe speed-up must not.
    "crawl_narrow": Workload("crawl_narrow", "crawl", WebSpec(
        hosts=128, albums=2, pages_per_album=4, imgs=(2, 4), skew=2,
        host_budget=2,
    ), WebSpec(hosts=2, albums=1, pages_per_album=2, host_budget=2)),
    # Few generations of thousands of image- and text-heavy pages, a
    # share of them on two-level-selector hosts. Extraction, the Arrow
    # boundary and resolve_second_level dominate; the seen set mostly
    # inserts.
    "crawl_wide": Workload("crawl_wide", "crawl", WebSpec(
        hosts=24, albums=80, pages_per_album=2, imgs=(8, 16),
        paragraphs=10, two_level_hosts=4, thumbs=4, host_budget=128,
        seed_index=False,
    ), WebSpec(hosts=2, albums=2, pages_per_album=1, imgs=(8, 16),
               paragraphs=10, two_level_hosts=1, host_budget=8,
               seed_index=False)),
    # Listing pages repeat a sidebar of dozens of album links; most
    # point to URLs already seen, some cross-host, some to paths robots
    # Disallow or a wildcard rule blocks. Few images. Robots admission,
    # the cuckoo probe (mostly re-probes) and the pending-state write
    # dominate — the seen layer used the opposite way to crawl_wide.
    "crawl_linkdense": Workload("crawl_linkdense", "crawl", WebSpec(
        hosts=16, albums=40, pages_per_album=1, imgs=(1, 2), listings=6,
        listing_pages=4, sidebar=60, cross_host=0.15, blocked=0.2,
        host_budget=16, slow_hosts=1,
    ), WebSpec(hosts=2, albums=4, pages_per_album=1, imgs=(1, 2),
               listings=1, listing_pages=2, sidebar=8, cross_host=0.2,
               blocked=0.2, host_budget=16)),
    # Documents with planted exact- and near-duplicate clusters and one
    # hot boilerplate bucket, curated by build_corpus with
    # near_dup_threshold=0.8. The only training-data workload: dedup,
    # textquality and corpus do all the work, the crawl layers none.
    "curate": Workload("curate", "curate", CorpusSpec(
        docs=700, exact_clusters=40, near_clusters=40, boilerplate=60,
    ), CorpusSpec(docs=30, exact_clusters=2, near_clusters=2,
                  boilerplate=6)),
}


def build(name: str, seed: int, warmup: bool = False):
    w = WORKLOADS[name]
    spec = w.warmup if warmup else w.spec
    # the warm-up slice draws from its own stream so it never shares
    # URLs or documents with the measured input
    s = seed * 2 + (1 if warmup else 0)
    return make_web(spec, s) if w.kind == "crawl" else make_corpus(spec, s)


def digest(obj) -> str:
    """Stable digest of a built input (the determinism tests use it)."""
    h = hashlib.sha256()
    if isinstance(obj, CrawlWeb):
        for url, html in sorted(obj.pages.items()):
            h.update(url.encode() + b"\0" + html + b"\0")
        h.update(repr((obj.config, obj.robots, obj.seeds)).encode())
    else:
        h.update(repr(obj.docs).encode())
    return h.hexdigest()
