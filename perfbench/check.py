"""Output checks for the benchmark workloads.

The checks compare what the program wrote against the seeded oracle
(workloads.py) and against direct calls of the kernels on the same
bytes. They take plain Python values so they can be tested without
Spark; ``run.py`` reads the program's outputs into these shapes.
"""

from __future__ import annotations

import hashlib
import re
import time
from dataclasses import dataclass, field

_MULT = 0x5BD1E995
_M64 = (1 << 64) - 1


@dataclass
class Verdict:
    ok: bool = True
    problems: list = field(default_factory=list)
    fp_misses: int = 0

    def fail(self, msg: str) -> None:
        self.ok = False
        if len(self.problems) < 20:
            self.problems.append(msg)


# ------------------------------------------------------------------ crawl
def cuckoo_key(h64: int, partitions: int, nbuckets: int) -> tuple:
    """(salt, fingerprint, min bucket) of a signed 64-bit xxhash64:
    two URLs collide in the seen set exactly when these are equal (same
    salt partition, same 16-bit fingerprint, same bucket pair)."""
    salt = h64 % partitions  # Spark pmod: non-negative for positive P
    h = h64 & _M64
    fp = (h >> 48) & 0xFFFF or 1
    i1 = h & (nbuckets - 1)
    i2 = (i1 ^ ((fp * _MULT) & _M64)) & (nbuckets - 1)
    return salt, fp, min(i1, i2)


def check_crawl(web, fetched: list, failed: list, disallowed: set,
                extracted: dict, expected: dict, keys=None) -> Verdict:
    """``fetched``/``failed``: URLs with status fetched / fetch_failed,
    one entry per row. ``extracted``: page URL -> image URLs in the
    extracted delta. ``expected``: page URL -> the kernel's image list on
    the same bytes. ``keys``: URL -> cuckoo_key, needed only when a
    reachable URL was never fetched (the one allowed miss is a seen-set
    false positive: the key of an earlier-admitted URL)."""
    v = Verdict()
    got = set(fetched)
    if len(got) != len(fetched):
        v.fail(f"{len(fetched) - len(got)} URLs fetched more than once")
    for url in sorted(got - web.reachable):
        v.fail(f"fetched a URL outside the reachable set: {url}")
    missing = web.reachable - got
    if missing:
        if keys is None:
            v.fail(f"{len(missing)} reachable URLs never fetched")
        else:
            admitted = {keys[u] for u in got | set(failed)}
            for url in sorted(missing):
                if keys[url] in admitted:
                    v.fp_misses += 1
                else:
                    v.fail(f"reachable URL never fetched: {url}")
    if set(failed) != web.dead:
        v.fail(f"fetch_failed set differs from the dead links: "
               f"{sorted(set(failed) ^ web.dead)[:3]}")
    if disallowed != web.disallowed:
        v.fail(f"disallowed set differs from the robots oracle: "
               f"{sorted(disallowed ^ web.disallowed)[:3]}")
    for url in sorted(got):
        want = expected.get(url)
        have = sorted(extracted.get(url, []))
        if want is None or have != sorted(want):
            v.fail(f"image list of {url}: extracted {len(have)} rows, "
                   f"kernel {None if want is None else len(want)}")
    return v


def kernel_images(web, urls: list) -> tuple:
    """The kernel's image list per page (parse_page, and for two-level
    pages the second-level pass over the photo pages, merged the way the
    engine merges them: sorted distinct). Returns (dict, seconds spent
    inside the kernel calls)."""
    from img_spark.functions.extract import extract_second_level, parse_page

    out, spent = {}, 0.0
    for url in urls:
        host = url.split("/")[2]
        t = time.perf_counter()
        r = parse_page(web.pages[url], url, *web.host_selectors[host])
        imgs = list(r.imgs)
        if r.second_level_sel:
            found = set()
            for fl in r.first_level_urls:
                html = web.pages.get(fl)
                if html is not None:
                    found.update(
                        extract_second_level([html], r.second_level_sel, url)
                    )
            imgs = sorted(found)
        spent += time.perf_counter() - t
        out[url] = imgs
    return out, spent


# ----------------------------------------------------------------- curate
def normalize(text: str) -> str:
    """Python twin of textquality.normalize_text on ASCII text: Spark's
    trim strips spaces only, then lower-case and collapse whitespace."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


def grams(text: str, n: int = 3) -> set:
    toks = re.split(r"\s+", text.strip(" ").lower())
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def check_curate(corpus, rows: list, comps: dict,
                 threshold: float = 0.8) -> Verdict:
    """``rows``: (doc_id, is_dup, is_near_dup) of the written corpus.
    ``comps``: doc_id -> rep_id cluster assignment from the corpus state.
    is_dup must equal a direct md5 grouping (min doc id is the
    representative); every near-dup must be reachable from its
    representative through pairs a direct Jaccard confirms."""
    v = Verdict()
    text = {d[0]: d[3] for d in corpus.docs}
    if sorted(r[0] for r in rows) != sorted(text):
        v.fail("corpus rows do not cover the input documents exactly")
        return v
    groups: dict = {}
    for doc_id, t in text.items():
        fp = hashlib.md5(normalize(t).encode()).hexdigest()
        groups.setdefault(fp, []).append(doc_id)
    want_dup = {d for g in groups.values() for d in g if d != min(g)}
    for doc_id, is_dup, _ in rows:
        if bool(is_dup) != (doc_id in want_dup):
            v.fail(f"is_dup of {doc_id} is {is_dup}")
    for c in corpus.exact_clusters:
        if len({hashlib.md5(normalize(text[d]).encode()).digest()
                for d in c}) != 1:
            v.fail(f"planted exact cluster {c[0]} does not share one md5")
    members: dict = {}
    for doc_id, rep in comps.items():
        members.setdefault(rep, []).append(doc_id)
    reached: dict = {}
    for doc_id, _, is_near in rows:
        if not is_near:
            continue
        rep = comps.get(doc_id)
        if rep is None or rep == doc_id:
            v.fail(f"near-dup {doc_id} has no representative")
            continue
        if rep not in reached:
            reached[rep] = _confirmed_reach(rep, members[rep], text, threshold)
        if doc_id not in reached[rep]:
            v.fail(f"near-dup {doc_id} not reachable from {rep} by "
                   f"confirmed pairs")
    return v


def _confirmed_reach(rep: str, cluster: list, text: dict,
                     threshold: float) -> set:
    """Cluster members reachable from ``rep`` over pairs whose direct
    Jaccard is at least the threshold (breadth-first)."""
    gram = {d: grams(text[d]) for d in cluster}
    reach, todo = {rep}, [rep]
    while todo:
        a = todo.pop()
        for b in cluster:
            if b not in reach and jaccard(gram[a], gram[b]) >= threshold - 1e-6:
                reach.add(b)
                todo.append(b)
    return reach
