"""Generator determinism and output-check tests for the crawler benchmark.

Pure Python, no Spark session:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os

import checks
import gen
import pytest

SMALL_WIDE = {"n_pages": 200, "n_plds": 20, "n_layers": 4}
SMALL_POLITE = {"n_plds": 4, "pages_per_pld": 40, "seeds_per_pld": 5}
SMALL_STREAM = {"n_batches": 3, "batch_rows": 100, "n_plds": 10}


def _write_all(seed: int, out_dir: str) -> dict[str, bytes]:
    wide = gen.wide_graph(seed, **SMALL_WIDE)
    gen.write_graph(wide, os.path.join(out_dir, "wide"))
    rules = gen.host_rules(seed, wide.adjacency)
    gen.write_rules(rules, os.path.join(out_dir, "wide", "replay_rules.parquet"))
    gen.write_graph(gen.polite_graph(seed, **SMALL_POLITE), os.path.join(out_dir, "polite"))
    gen.write_backlog(gen.stream_backlog(seed, **SMALL_STREAM), os.path.join(out_dir, "stream"))
    files = {}
    for d, _, names in os.walk(out_dir):
        for name in names:
            path = os.path.join(d, name)
            with open(path, "rb") as fh:
                files[os.path.relpath(path, out_dir)] = fh.read()
    return files


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    assert len(a) == 9
    assert a == b


def test_other_seed_changes_every_input(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    c = _write_all(8, str(tmp_path / "c"))
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_wide_check_accepts_reachable_set_and_rejects_corruption():
    graph = gen.wide_graph(3, **SMALL_WIDE)
    good = checks.reachable(graph) & graph.adjacency.keys()
    assert len(good) == SMALL_WIDE["n_pages"]  # each page links its twin in the next layer
    assert checks.check_wide(set(good), graph) == []
    dropped = set(good)
    dropped.remove(sorted(good)[0])
    assert checks.check_wide(dropped, graph)
    dead = next(u for links in graph.adjacency.values() for u in links if u not in graph.adjacency)
    assert checks.check_wide(good | {dead}, graph)


def test_wide_replay_rules_block_some_pages():
    graph = gen.wide_graph(3, **SMALL_WIDE)
    rules = gen.host_rules(3, graph.adjacency)
    assert all(gen.host_root(u) in rules for u in graph.adjacency)
    blocked = [u for u in graph.adjacency if checks.is_disallowed(u, rules[gen.host_root(u)])]
    assert 0 < len(blocked) < len(graph.adjacency) / 4


def _polite_fetches(graph: gen.WebGraph) -> list[tuple[str, int]]:
    """A correct polite output: per host, its first allowed reachable pages
    in the politeness slots of tick 1."""
    reach = checks.reachable(graph)
    out = []
    for host, rules in graph.rules.items():
        delay = rules.delay_ms or gen.DEFAULT_DELAY_MS
        pages = sorted(
            u
            for u in graph.adjacency
            if u in reach and u.startswith(host + "/") and not checks.is_disallowed(u, rules)
        )
        for i, url in enumerate(pages[: -(-gen.TICK_MS // delay)]):
            out.append((url, gen.START_MS + gen.TICK_MS + i * delay))
    return out


def test_polite_check_accepts_slotted_fetches():
    graph = gen.polite_graph(3, **SMALL_POLITE)
    assert checks.check_polite(_polite_fetches(graph), graph) == []


def test_polite_check_rejects_disallowed_fetch():
    graph = gen.polite_graph(3, **SMALL_POLITE)
    host, rules = next(iter(graph.rules.items()))
    blocked = next(
        u for u in graph.adjacency if u.startswith(host + "/") and checks.is_disallowed(u, rules)
    )
    fetches = _polite_fetches(graph)
    url, t = next((u, t) for u, t in fetches if u.startswith(host + "/"))
    fetches[fetches.index((url, t))] = (blocked, t)
    assert any("disallowed" in e for e in checks.check_polite(fetches, graph))


def test_polite_check_rejects_slot_overflow():
    graph = gen.polite_graph(3, **SMALL_POLITE)
    fetches = _polite_fetches(graph)
    url, t = fetches[0]
    host = url.rsplit("/", 2)[0]
    extra = next(
        u
        for u in graph.adjacency
        if u.startswith(host) and u not in {f for f, _ in fetches}
        and not checks.is_disallowed(u, graph.rules.get(host))
    )
    fetches.append((extra, t))  # two fetches in one slot
    assert any("politeness" in e for e in checks.check_polite(fetches, graph))


def test_polite_check_rejects_unknown_page():
    graph = gen.polite_graph(3, **SMALL_POLITE)
    fetches = _polite_fetches(graph)
    url, t = fetches[0]
    fetches[0] = (url + "x", t)
    assert any("not reachable" in e for e in checks.check_polite(fetches, graph))


def test_stream_check_uses_last_row_and_rejects_corruption():
    rows = [
        ("u1", "p", "UNFETCHED", 1, 1.0, 1),
        ("u2", "p", "UNFETCHED", 2, 0.5, 2),
        ("u1", "p", "FETCHED", 3, 0.0, 9),
    ]
    actual = checks.last_rows(rows)
    expected = {"u1": ("p", "FETCHED", 3, 0.0, 9), "u2": ("p", "UNFETCHED", 2, 0.5, 2)}
    assert checks.check_stream(actual, expected) == []
    wrong = dict(actual, u2=("p", "UNFETCHED", 2, 0.75, 2))
    assert checks.check_stream(wrong, expected)
    missing = {"u1": actual["u1"]}
    assert checks.check_stream(missing, expected)
    extra = dict(actual, u3=("p", "UNFETCHED", 4, 1.0, 4))
    assert checks.check_stream(extra, expected)


@pytest.mark.parametrize("path", ["/private/1", "/private/pub2", "/a/3", "/"])
def test_disallow_longest_match(path):
    rules = gen.HostRules(["/private/"], ["/private/pub"], None)
    assert checks.is_disallowed("http://h.org" + path, rules) == (path == "/private/1")
