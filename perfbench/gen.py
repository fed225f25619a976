"""Seeded inputs for the crawler benchmark.

Pure Python: no Spark here, so the generator can be tested on its own and
the program under test only ever sees the files written below. The same
seed gives byte-identical files; the seed is folded into host names as
well as into the graph, so two seeds never share a file.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq

#: crawl() clock origin (plans/crawl_loop.py ``start_ms`` default)
START_MS = 1_700_000_000_000
#: crawl() politeness window per tick (CrawlConfig.tick_ms default)
TICK_MS = 100_000
#: robots-less hosts fetch at this delay (CrawlConfig.default_crawl_delay_ms)
DEFAULT_DELAY_MS = 10_000

WEB_GRAPH_SCHEMA = pa.schema(
    [
        ("page_url", pa.string()),
        ("page_score", pa.float64()),
        ("outlink_pos", pa.int32()),
        ("outlink_url", pa.string()),
    ]
)
SEEDS_SCHEMA = pa.schema([("url", pa.string()), ("score", pa.float64())])
RULES_SCHEMA = pa.schema(
    [
        ("host_root", pa.string()),
        ("disallow", pa.list_(pa.string())),
        ("allow", pa.list_(pa.string())),
        ("crawl_delay_ms", pa.int64()),
        ("sitemaps", pa.list_(pa.string())),
    ]
)
OBS_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("pld", pa.string()),
        ("status", pa.string()),
        ("status_time", pa.int64()),
        ("score", pa.float64()),
        ("next_fetch_time", pa.int64()),
    ]
)


@dataclass
class HostRules:
    """One host's robots rules, in the shape crawl() takes them
    (operators/robots.py RULES_SCHEMA, keyed by host root)."""

    disallow: list[str]
    allow: list[str]
    delay_ms: int | None  # None: no Crawl-delay, the crawl default applies


@dataclass
class WebGraph:
    """A mock web: every key of ``adjacency`` is a page the mock fetch
    serves; an outlink that is not a key 404s."""

    adjacency: dict[str, list[str]]
    seeds: list[str]
    rules: dict[str, HostRules] = field(default_factory=dict)  # host root -> rules


def _tag(rng: random.Random) -> str:
    return f"{rng.randrange(16**5):05x}"


def _dir(rng: random.Random, private_share: float) -> str:
    r = rng.random()
    if r < private_share / 3:
        return "private/pub"
    return "private/" if r < private_share else ""


def host_root(url: str) -> str:
    """``scheme://host`` of a URL: the key robots rules are stored under."""
    parts = urlsplit(url)
    return f"{parts.scheme}://{parts.netloc}"


def host_rules(seed: int, urls) -> dict[str, HostRules]:
    """robots rules for every host of ``urls``: each disallows
    ``/private/`` but allows ``/private/pub``, and a third each ask for a
    5 s delay, a 20 s delay, or nothing (the 10 s default)."""
    rng = random.Random(f"host_rules:{seed}")
    rules = {}
    for host in sorted({host_root(u) for u in urls}):
        delay_s = rng.choice([None, 5, 20])
        rules[host] = HostRules(
            ["/private/"], ["/private/pub"], None if delay_s is None else delay_s * 1000
        )
    return rules


def wide_graph(
    seed: int,
    *,
    n_pages: int,
    n_plds: int,
    n_layers: int,
    mean_outlinks: int = 8,
    dead_share: float = 0.02,
    private_share: float = 0.15,
) -> WebGraph:
    """Random broad web in ``n_layers`` equal layers; the first layer is
    the seed list. Pages spread uniformly over ``n_plds`` PLDs, and a
    ``private_share`` of them sit under ``/private/`` (a third of those
    under ``/private/pub``), where ``host_rules`` disallows. A page in
    layer k links page j of layer k+1 (so layer k+1 is exactly what tick
    k+1 discovers) plus ``mean_outlinks`` +- 3 random pages of layers up
    to k+1; a ``dead_share`` of the random links point at pages that do
    not exist. Every seed thus gives the same number of ticks and the same
    frontier per tick, only the links and names differ."""
    rng = random.Random(f"crawl_wide:{seed}")
    tag = _tag(rng)
    plds = [f"w{tag}{i:03d}.com" for i in range(n_plds)]
    width = n_pages // n_layers
    layers = [
        [
            f"http://www.{plds[rng.randrange(n_plds)]}/{_dir(rng, private_share)}p{k * width + j}"
            for j in range(width)
        ]
        for k in range(n_layers)
    ]
    adjacency: dict[str, list[str]] = {}
    dead = 0
    for k, layer in enumerate(layers):
        reach = width * min(k + 2, n_layers)  # pages of layers 0..k+1
        for j, u in enumerate(layer):
            links = [layers[k + 1][j]] if k + 1 < n_layers else []
            for _ in range(rng.randint(mean_outlinks - 3, mean_outlinks + 3) - len(links)):
                if rng.random() < dead_share:
                    links.append(f"http://www.{plds[rng.randrange(n_plds)]}/gone{dead}")
                    dead += 1
                else:
                    i = rng.randrange(reach)
                    links.append(layers[i // width][i % width])
            adjacency[u] = links
    return WebGraph(adjacency, list(layers[0]))


def polite_graph(
    seed: int,
    *,
    n_plds: int,
    pages_per_pld: int,
    seeds_per_pld: int,
    intra_links: int = 7,
    private_share: float = 0.15,
) -> WebGraph:
    """Focused web of ``n_plds`` single-host sites with ``host_rules``. Each
    site links mostly to itself (``intra_links`` per page, plus one link to
    another site); a ``private_share`` of its pages are under ``/private/``."""
    rng = random.Random(f"crawl_polite:{seed}")
    tag = _tag(rng)
    hosts = [f"http://www.f{tag}{d:02d}.org" for d in range(n_plds)]
    site_pages = [
        [f"{host}/"]
        + [f"{host}/{_dir(rng, private_share) or 'a/'}{j}" for j in range(1, pages_per_pld)]
        for host in hosts
    ]
    adjacency: dict[str, list[str]] = {}
    for d, pages in enumerate(site_pages):
        for u in pages:
            links = [pages[rng.randrange(len(pages))] for _ in range(intra_links)]
            other = site_pages[(d + 1 + rng.randrange(n_plds - 1)) % n_plds]
            links.append(other[rng.randrange(len(other))])
            adjacency[u] = links
    seeds = [u for pages in site_pages for u in rng.sample(pages, seeds_per_pld)]
    return WebGraph(adjacency, seeds, host_rules(seed, hosts))


def stream_backlog(
    seed: int,
    *,
    n_batches: int,
    batch_rows: int,
    n_plds: int,
    zipf_s: float = 1.1,
    update_share: float = 0.5,
) -> list[list[tuple]]:
    """Observation backlog for the streaming URL DB, one list per
    micro-batch. New URLs land on Zipf-ranked PLDs, so hot PLDs hold large
    state arrays. ``update_share`` of the rows re-observe a URL seen in an
    earlier row with a fetch status or a rediscovery. Times strictly
    increase (no merge ties) and scores are dyadic, so score sums are exact
    in any order."""
    rng = random.Random(f"url_db_stream:{seed}")
    tag = _tag(rng)
    plds = [f"z{tag}{i:03d}.net" for i in range(n_plds)]
    weights = [1.0 / (r + 1) ** zipf_s for r in range(n_plds)]
    cum = 0.0
    cum_weights = []
    for w in weights:
        cum += w
        cum_weights.append(cum)
    known: list[tuple[str, str]] = []
    t = START_MS
    batches = []
    for _ in range(n_batches):
        rows = []
        for _ in range(batch_rows):
            t += 7
            score = rng.choice((0.25, 0.5, 1.0, 2.0))
            if known and rng.random() < update_share:
                url, pld = known[rng.randrange(len(known))]
                status = rng.choice(
                    ("FETCHED", "HTTP_NOT_FOUND", "SKIPPED_CRAWLDELAY", "UNFETCHED")
                )
            else:
                pld = rng.choices(plds, cum_weights=cum_weights)[0]
                url = f"http://www.{pld}/u{len(known)}"
                known.append((url, pld))
                status = "UNFETCHED"
            nft = t if status == "UNFETCHED" else t + 86_400_000
            rows.append((url, pld, status, t, score, nft))
        batches.append(rows)
    return batches


def _table(columns: list, schema: pa.Schema) -> pa.Table:
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, schema)], schema=schema
    )


def write_graph(graph: WebGraph, out_dir: str) -> dict[str, str]:
    """Write the graph as the fixture tables the program reads; returns
    their paths by name (``rules`` only when the graph has robots rules)."""
    os.makedirs(out_dir, exist_ok=True)
    pages, scores, pos, links = [], [], [], []
    for page, outs in graph.adjacency.items():
        for i, link in enumerate(outs):
            pages.append(page)
            scores.append(1.0)
            pos.append(i)
            links.append(link)
    paths = {
        "web_graph": os.path.join(out_dir, "web_graph.parquet"),
        "seeds": os.path.join(out_dir, "seeds.parquet"),
    }
    pq.write_table(
        _table([pages, scores, pos, links], WEB_GRAPH_SCHEMA), paths["web_graph"]
    )
    pq.write_table(
        _table([graph.seeds, [1.0] * len(graph.seeds)], SEEDS_SCHEMA),
        paths["seeds"],
    )
    if graph.rules:
        paths["rules"] = write_rules(graph.rules, os.path.join(out_dir, "rules.parquet"))
    return paths


def write_rules(rules: dict[str, HostRules], path: str) -> str:
    """Write robots rules as the parsed table crawl() takes."""
    hosts = sorted(rules)
    rows = [rules[h] for h in hosts]
    pq.write_table(
        _table(
            [
                hosts,
                [r.disallow for r in rows],
                [r.allow for r in rows],
                [r.delay_ms for r in rows],
                [[] for _ in rows],
            ],
            RULES_SCHEMA,
        ),
        path,
    )
    return path


def write_backlog(batches: list[list[tuple]], out_dir: str) -> list[str]:
    """One parquet file per micro-batch. Modification times increase with
    the batch index, because the file source reads the oldest file first."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, rows in enumerate(batches):
        path = os.path.join(out_dir, f"obs_{k:05d}.parquet")
        pq.write_table(_table(list(zip(*rows)), OBS_SCHEMA), path)
        os.utime(path, (1_000_000_000 + k, 1_000_000_000 + k))
        paths.append(path)
    return paths
