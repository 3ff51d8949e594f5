"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import check  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(name):
    a = workloads.digest(workloads.build(name, 7))
    assert a == workloads.digest(workloads.build(name, 7))
    assert a != workloads.digest(workloads.build(name, 8))
    assert a != workloads.digest(workloads.build(name, 7, warmup=True))


@pytest.mark.parametrize("name", [n for n, w in workloads.WORKLOADS.items()
                                  if w.kind == "crawl"])
def test_link_oracle_matches_the_kernel(name):
    """The oracle's followed links are the kernel's albums + next link."""
    from img_spark.functions.extract import parse_page

    web = workloads.build(name, 3)
    assert web.reachable and web.dead and web.disallowed
    for url in sorted(web.reachable):
        r = parse_page(web.pages[url], url, *web.host_selectors[url.split("/")[2]])
        got = set(r.albums) | ({r.next_url} if r.next_url else set())
        assert got == set(web.links[url]), url


def _fake_crawl_outputs(web):
    fetched = sorted(web.reachable)
    expected, _ = check.kernel_images(web, fetched)
    extracted = {u: list(v) for u, v in expected.items()}
    return fetched, sorted(web.dead), set(web.disallowed), extracted, expected


@pytest.fixture(scope="module")
def small_web():
    return workloads.build("crawl_wide", 5, warmup=True)


def test_checker_accepts_the_oracle(small_web):
    fetched, failed, dis, ext, exp = _fake_crawl_outputs(small_web)
    assert check.check_crawl(small_web, fetched, failed, dis, ext, exp).ok


def test_checker_rejects_a_dropped_image_row(small_web):
    fetched, failed, dis, ext, exp = _fake_crawl_outputs(small_web)
    page = next(u for u in fetched if ext[u])
    ext[page] = ext[page][1:]
    v = check.check_crawl(small_web, fetched, failed, dis, ext, exp)
    assert not v.ok and page in v.problems[0]


def test_checker_rejects_an_extra_fetched_url(small_web):
    fetched, failed, dis, ext, exp = _fake_crawl_outputs(small_web)
    extra = "http://s000-0000.test/not/linked"
    v = check.check_crawl(small_web, fetched + [extra], failed, dis, ext, exp)
    assert not v.ok and any(extra in p for p in v.problems)


def test_missing_url_passes_only_as_a_cuckoo_false_positive(small_web):
    fetched, failed, dis, ext, exp = _fake_crawl_outputs(small_web)
    lost, kept = fetched[0], fetched[1:]
    keys = {u: (0, 1, i) for i, u in enumerate(sorted(small_web.reachable
                                                     | small_web.dead))}
    assert not check.check_crawl(
        small_web, kept, failed, dis, ext, exp, keys).ok
    keys[lost] = keys[kept[0]]  # same (salt, fp, min bucket)
    v = check.check_crawl(small_web, kept, failed, dis, ext, exp, keys)
    assert v.ok and v.fp_misses == 1


def test_a_raising_generation_is_a_failed_operation():
    """A step that raises (e.g. a seen-set partition overfilled) ends the
    crawl and is recorded as a failed generation, not retried around."""
    class Full:
        generation = 0

        def step(self):
            raise RuntimeError("cuckoo filter full")

    cr = run.CrawlRun.__new__(run.CrawlRun)
    cr.crawler, cr.ck, cr.tracer, cr.gens = Full(), "ck", tracing.Tracer(), []
    assert cr.run() is False
    assert [(g, ok) for g, _, _, ok in cr.gens] == [(1, False)]


def test_cuckoo_key_matches_the_filter():
    """Two hashes with equal keys are indistinguishable to the filter."""
    import numpy as np

    from img_spark.operators.seen import CuckooFilter

    f = CuckooFilter(capacity=1 << 10)
    h = 0x1234_5678_9ABC_DEF0
    salt, fp, b = check.cuckoo_key(h, 1, f.nbuckets)
    fp2, i1, i2 = f._derive(h)
    assert (fp, b) == (int(fp2), min(i1, i2))
    # swap to the alternate bucket: same key, and the filter agrees
    other = (h & ~(f.nbuckets - 1)) | i2
    assert check.cuckoo_key(other, 1, f.nbuckets) == (salt, fp, b)
    assert f.probe_and_insert(np.array([h, other], dtype=np.uint64)).tolist() \
        == [True, False]


def test_curate_checker():
    corpus = workloads.build("curate", 4, warmup=True)
    groups = {}
    for d in corpus.docs:
        groups.setdefault(check.normalize(d[3]), []).append(d[0])
    dup = {d for g in groups.values() for d in g if d != min(g)}
    comps, near = {}, set()
    for c in corpus.near_clusters + [corpus.boilerplate]:
        rep = min(c)
        for d in c:
            comps[d] = rep
            if d != rep:
                near.add(d)
    rows = [(d[0], d[0] in dup, d[0] in near) for d in corpus.docs]
    assert check.check_curate(corpus, rows, comps).ok
    flipped = [(i, not a, b) if i == rows[0][0] else (i, a, b)
               for i, a, b in rows]
    assert not check.check_curate(corpus, flipped, comps).ok
    # a near-dup whose representative is an unrelated document
    loner = next(d[0] for d in corpus.docs if d[0] not in comps)
    victim = sorted(near)[0]
    comps2 = dict(comps, **{victim: loner, loner: loner})
    assert not check.check_curate(corpus, rows, comps2).ok


def test_metric_names_and_benchmark_file():
    for name in list(run.END_TO_END) + list(run.PER_LAYER):
        assert NAME.match(name), name
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"] for m in spec["per_layer"]} == set(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        unit = (run.END_TO_END | run.PER_LAYER)[m["name"]]
        assert m["unit"] == unit, m["name"]
    for w in spec["workloads"]:
        assert w["name"] in workloads.WORKLOADS
