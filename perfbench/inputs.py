"""Seeded benchmark inputs and their expected outputs.

Every input is a pure function of (workload, seed, size). ``ensure`` writes
the inputs as parquet (pyarrow only, no Spark) together with the expected
outputs computed by the in-repo oracles, into a cache directory keyed by
(workload, seed, size); a complete entry carries a ``DONE`` marker and is
reused by later runs with the same key.
"""

from __future__ import annotations

import argparse
import datetime
import json
import multiprocessing
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle

WORKLOADS = ("crawl_rank", "rank_algos")
LABELPROP_ROUNDS = 5

# Per input: crawl = pages (crawl_rank); rank = the hub-skewed graph and
# hosts = the host-clustered graph (both rank_algos). Sizes keep one pipeline
# pass short enough for the whole run protocol to fit its time budget on a
# 4-core box; "tiny" is the self-test size.
SIZES = {
    "full": {
        "crawl": {"pages": 4000, "hosts": 40, "mean_links": 12.0, "paragraphs": 18, "nav": 30},
        "rank": {"vertices": 2_500, "edges": 100_000, "hubs": 97},
        "hosts": {"edges": 20_000, "mean_host": 15},
    },
    "tiny": {
        "crawl": {"pages": 200, "hosts": 6, "mean_links": 6.0, "paragraphs": 2, "nav": 3},
        "rank": {"vertices": 500, "edges": 4000, "hubs": 11},
        "hosts": {"edges": 3000, "mean_host": 12},
    },
}
INPUTS = {"crawl_rank": ("crawl",), "rank_algos": ("rank", "hosts")}

_WORDS = np.array(
    (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
        "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
        "xray yankee zulu court law news senate house archive policy report study "
        "market energy climate health travel science history music sport weather"
    ).split()
)
_EDGE_RE = re.compile(r".*((/$)|(/.*/)).*")  # graph_build's ingest regex


def cache_dir(cache_root: str, workload: str, seed: int, size: str) -> str:
    return os.path.join(cache_root, f"{workload}-s{seed}-{size}")


def complete(d: str) -> bool:
    return os.path.exists(os.path.join(d, "DONE"))


def ensure(cache_root: str, workload: str, seed: int, size: str) -> str:
    """Return the cache dir for the key, generating it first if absent."""
    d = cache_dir(cache_root, workload, seed, size)
    if complete(d):
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    gens = {"crawl": _gen_crawl, "rank": _gen_rank, "hosts": _gen_hosts}
    expected = {}
    for k, name in enumerate(INPUTS[workload]):
        rng = np.random.default_rng([seed, k])
        expected[name] = gens[name](tmp, rng, SIZES[size][name], seed)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    os.replace(tmp, d)
    return d


def _write(d: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(d, name))


def _names(prefix: str, ids: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, ids.astype(str)).astype(object)


# -- crawl_rank ---------------------------------------------------------------


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(_WORDS[rng.integers(0, len(_WORDS), n)])


def _page_html(rng, i, url, host, targets, paragraphs, nav) -> str:
    """One page in the shape of fixtures.synth_pages — anchors, relative,
    duplicate and self links, entities, nested tags, script/style — plus
    body text and in-page navigation markup for a realistic page weight."""
    parts = [f"<h1>{_words(rng, 4)} {i}</h1>", '<ul class="nav">']
    for k in range(nav):
        parts.append(f'<li><a href="#nav-{k}" class="nav-link">{_words(rng, 1)}</a></li>')
    parts.append("</ul>")
    cuts = np.linspace(0, len(targets), paragraphs + 1).astype(int)
    for p in range(paragraphs):
        body = [f"<p>{_words(rng, 40)}"]
        for tgt in targets[cuts[p]:cuts[p + 1]]:
            scheme = ("http://", "https://", "//")[int(rng.integers(0, 3))]
            body.append(f' <a href="{scheme}{tgt}">{_words(rng, 3)}</a> {_words(rng, 8)}')
        body.append(f" <b><i>{_words(rng, 3)}</i></b> &amp; {_words(rng, 6)} &#x263a;.</p>")
        parts.append("".join(body))
    case = i % 8
    if case == 1 and targets:
        parts.append(f'<a href="http://{targets[0]}">again</a>')  # duplicate link
    elif case == 2:
        parts.append(f'<a href="http://{url}">self</a>')           # self-link
    elif case == 3:
        parts.append('<a href="/relative-path">relative</a>')
    elif case == 4:
        parts.append('<a href="#top">top</a><a href="">empty</a>')  # dropped hrefs
    parts.append(
        '<script>var s = "<a href=\'http://www.hidden.test/x\'>x</a>" &lt; 2;</script>'
        "<style>p { margin: 0 }</style>"
    )
    return (
        f"<html><head><title>{host} {i}</title></head><body>"
        + "".join(parts)
        + f"<footer>{_words(rng, 12)}</footer></body></html>"
    )


GEN_CHUNKS = 4   # fixed, so the pages do not depend on the core count


def _pages_chunk(args):
    """Render a slice of the pages and run the reference extractor on each
    (one process per slice)."""
    from pagerank_spark.functions.extract import extract_hrefs_py

    seed, chunk, lo, hi, urls, targets, p = args
    rng = np.random.default_rng([seed, 0, chunk])
    htmls, hrefs = [], []
    for i in range(lo, hi):
        u = urls[i]
        html = _page_html(rng, i, u, u.split("/", 1)[0], [urls[j] for j in targets[i - lo]],
                          p["paragraphs"], p["nav"]).encode()
        htmls.append(html)
        hrefs.append(extract_hrefs_py(html, u))
    return htmls, hrefs


def _gen_crawl(d: str, rng: np.random.Generator, p: dict, seed: int) -> dict:
    n, hosts = p["pages"], p["hosts"]
    kind = rng.random(n)
    slugs = _WORDS[rng.integers(0, len(_WORDS), n)]
    urls = []
    for i in range(n):
        base = f"www.site{i % hosts}.test"
        if kind[i] < 0.15:
            urls.append(f"{base}/topic/{slugs[i]}{i}")   # multi-segment -> regex-dropped
        elif kind[i] < 0.25:
            urls.append(f"{base}/{slugs[i]}{i}/")        # trailing slash -> regex-dropped
        else:
            urls.append(f"{base}/{slugs[i]}{i}")
    # power-law link-target popularity => hub skew (s = 0.8 keeps the
    # iteration count to 1e-6 the same from seed to seed)
    pop = np.arange(1, n + 1, dtype=np.float64) ** -0.8
    pop /= pop.sum()
    perm = rng.permutation(n)
    n_links = rng.poisson(p["mean_links"], n)
    n_links[np.arange(n) % 8 == 0] = 0            # pages without links
    ends = np.cumsum(n_links)
    targets = np.split(perm[rng.choice(n, size=int(ends[-1]), p=pop)], ends[:-1])
    cuts = np.linspace(0, n, GEN_CHUNKS + 1).astype(int)
    jobs = [(seed, c, lo, hi, urls, targets[lo:hi], p)
            for c, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:]))]
    with multiprocessing.get_context("spawn").Pool(GEN_CHUNKS) as pool:
        done = pool.map(_pages_chunk, jobs)
    htmls = [h for part in done for h in part[0]]
    hrefs = [h for part in done for h in part[1]]
    epoch = datetime.datetime(2024, 1, 1)
    ts = [epoch + datetime.timedelta(seconds=int(s)) for s in rng.integers(0, 10_000_000, n)]
    langs = np.array(["en"] * 8 + ["de", "fr"])[np.arange(n) % 10]
    texts = [_words(rng, 20) for _ in range(n)]   # filler: extract reads url + html
    _write(d, "pages.parquet", {
        "url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": langs.tolist(),
    })

    # expected: extract_hrefs_py over every page (run beside the rendering)
    src = [u for u, hs in zip(urls, hrefs) for _ in hs]
    dst = [h for hs in hrefs for h in hs]
    order = sorted(range(len(src)), key=lambda k: (src[k], dst[k]))
    _write(d, "crawl_extract.parquet", {
        "src": [src[k] for k in order], "dst": [dst[k] for k in order],
    })
    kept = [(s, t) for s, t in zip(src, dst) if not (_EDGE_RE.match(s) or _EDGE_RE.match(t))]
    return _expected_ranks(d, "crawl", kept, raw_edges=len(src), pages=n)


# -- rank_algos: hub-skewed graph ----------------------------------------------


def _gen_rank(d: str, rng: np.random.Generator, p: dict, seed: int) -> dict:
    """Uniform sources, uniform targets except 10% aimed at a few hubs — the
    shape of bench.bench_graph_sql, drawn from the seed."""
    nv, ne = p["vertices"], p["edges"]
    src = rng.integers(0, nv, ne)
    dst = rng.integers(0, nv, ne)
    hub = rng.random(ne) < 0.10
    dst[hub] = rng.integers(0, p["hubs"], int(hub.sum()))
    s, t = _names("n", src), _names("n", dst)
    _write(d, "rank_edges.parquet", {"src": s, "dst": t})
    return _expected_ranks(d, "rank", list(zip(s, t)), raw_edges=ne)


def _expected_ranks(d: str, name: str, edges: list, **extra) -> dict:
    """Oracle PageRank of the graph LinkGraph builds from ``edges``."""
    g = oracle.Graph.from_edges(edges)
    ranks, iters = oracle.pagerank_sparse(g)
    _write(d, f"{name}_ranks.parquet", {"url": g.urls.tolist(), "rank": ranks})
    return {"edges": g.num_edges, "vertices": g.num_vertices, "iterations": iters, **extra}


# -- rank_algos: host-clustered graph ------------------------------------------


def _gen_hosts(d: str, rng: np.random.Generator, p: dict, seed: int) -> dict:
    """Host-clustered raw edges: each host is a chain with short local
    chords (long paths, many triangles); a few cross-host links merge some
    hosts while many stay disconnected components."""
    ne = p["edges"]
    src_l, dst_l = [], []
    total, h = 0, 0
    host_sizes = []
    while total < ne:
        size = int(rng.integers(p["mean_host"] // 4, 2 * p["mean_host"]))
        j = np.arange(size - 1)
        chain = (j, j + 1)
        chords_from = rng.integers(0, size, size)
        chords_to = np.minimum(size - 1, chords_from + rng.integers(1, 4, size))
        extra_from = rng.integers(0, size, size)
        extra_to = rng.integers(0, size, size)      # random in-host links
        s = np.concatenate([chain[0], chords_from, extra_from])
        t = np.concatenate([chain[1], chords_to, extra_to])
        flip = rng.random(len(s)) < 0.5             # direction does not matter
        s, t = np.where(flip, t, s), np.where(flip, s, t)
        src_l.append(np.char.add(f"h{h}.test/p", s.astype(str)))
        dst_l.append(np.char.add(f"h{h}.test/p", t.astype(str)))
        host_sizes.append(size)
        total += len(s)
        h += 1
    src = np.concatenate(src_l).astype(object)
    dst = np.concatenate(dst_l).astype(object)
    # ~1 cross-host link per 4 hosts: merges some hosts, leaves most apart
    n_cross = max(1, h // 4)
    a = rng.integers(0, h, n_cross)
    b = rng.integers(0, h, n_cross)
    sizes = np.array(host_sizes)
    ca = np.char.add(np.char.add(np.char.add("h", a.astype(str)), ".test/p"),
                     rng.integers(0, sizes[a]).astype(str)).astype(object)
    cb = np.char.add(np.char.add(np.char.add("h", b.astype(str)), ".test/p"),
                     rng.integers(0, sizes[b]).astype(str)).astype(object)
    src = np.concatenate([src, ca])
    dst = np.concatenate([dst, cb])
    # duplicates and self-loops, as in crawled link tables
    dup = rng.integers(0, len(src), len(src) // 50)
    loops = rng.integers(0, len(src), len(src) // 100)
    src = np.concatenate([src, src[dup], src[loops]])
    dst = np.concatenate([dst, dst[dup], src[loops]])
    order = rng.permutation(len(src))
    src, dst = src[order], dst[order]
    _write(d, "hosts_edges.parquet", {"src": src, "dst": dst})

    from pagerank_spark.oracle.graph_np import (
        connected_components_np,
        label_propagation_np,
        triangle_count_np,
    )

    edges = list(zip(src.tolist(), dst.tolist()))
    cc = connected_components_np(edges)
    lp = label_propagation_np(edges, max_iter=LABELPROP_ROUNDS)
    tri, _ = triangle_count_np(edges)
    g = oracle.Graph.from_edges(edges)
    _write(d, "hosts_cc.parquet", {"url": list(cc), "component": list(cc.values())})
    _write(d, "hosts_lp.parquet", {"url": list(lp), "label": list(lp.values())})
    return {
        "edges": g.num_edges, "vertices": g.num_vertices, "raw_edges": len(src),
        "triangles": tri, "components": len(set(cc.values())),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Generate one workload's cached inputs.")
    ap.add_argument("--cache-root", required=True)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", required=True, choices=tuple(SIZES))
    a = ap.parse_args(argv)
    ensure(a.cache_root, a.workload, a.seed, a.size)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
