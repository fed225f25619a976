"""Output checks for the crawler benchmark.

Each check takes plain Python values collected from the program's output
and the generator's own description of the inputs, and returns a list of
error strings (empty when the output is correct). Nothing here calls the
program, so a check cannot inherit a defect from the code it checks.
"""

from __future__ import annotations

from collections import defaultdict, deque
from urllib.parse import urlsplit

from gen import DEFAULT_DELAY_MS, START_MS, TICK_MS, HostRules, WebGraph, host_root

_MAX_SHOWN = 5


def reachable(graph: WebGraph) -> set[str]:
    """Every URL a crawl can discover from the seeds by following links,
    404ing URLs included (they are discovered but never fetched)."""
    seen = set(graph.seeds)
    todo = deque(graph.seeds)
    while todo:
        for link in graph.adjacency.get(todo.popleft(), ()):
            if link not in seen:
                seen.add(link)
                todo.append(link)
    return seen


def _sample(urls) -> str:
    return ", ".join(sorted(urls)[:_MAX_SHOWN])


def check_wide(fetched: set[str], graph: WebGraph) -> list[str]:
    """A crawl run until its frontier is empty fetches exactly the pages
    reachable from the seeds."""
    expected = reachable(graph) & graph.adjacency.keys()
    errors = []
    if missing := expected - fetched:
        errors.append(f"{len(missing)} reachable pages not FETCHED: {_sample(missing)}")
    if extra := fetched - expected:
        errors.append(f"{len(extra)} FETCHED URLs not reachable pages: {_sample(extra)}")
    return errors


def is_disallowed(url: str, rules: HostRules | None) -> bool:
    """Longest-match robots semantics over plain path prefixes: the most
    specific rule wins and an allow wins a tie."""
    if rules is None:
        return False
    path = urlsplit(url).path or "/"
    dis = max((len(p) for p in rules.disallow if path.startswith(p)), default=0)
    allow = max((len(p) for p in rules.allow if path.startswith(p)), default=0)
    return dis > allow


def check_polite(fetched: list[tuple[str, int]], graph: WebGraph) -> list[str]:
    """``fetched``: (url, status_time) of every FETCHED row. A polite crawl
    fetches only reachable, robots-allowed pages, and in each tick a host
    fetches at most ceil(tick / delay) pages, at slot times ``delay``
    apart from the tick start (plans/crawl_loop.py politeness slots)."""
    errors = []
    reach = reachable(graph) & graph.adjacency.keys()
    urls = {u for u, _ in fetched}
    if extra := urls - reach:
        errors.append(f"{len(extra)} FETCHED URLs not reachable pages: {_sample(extra)}")
    if blocked := {u for u in urls if is_disallowed(u, graph.rules.get(host_root(u)))}:
        errors.append(f"{len(blocked)} robots-disallowed URLs FETCHED: {_sample(blocked)}")
    slots: dict[tuple[str, int], list[int]] = defaultdict(list)
    for url, status_time in fetched:
        tick, offset = divmod(status_time - START_MS, TICK_MS)
        slots[(host_root(url), tick)].append(offset)
    for (host, tick), offsets in sorted(slots.items()):
        rules = graph.rules.get(host)
        delay = DEFAULT_DELAY_MS if rules is None or rules.delay_ms is None else rules.delay_ms
        allowed = {i * delay for i in range(-(-TICK_MS // delay))}
        if len(offsets) > len(allowed) or not set(offsets) <= allowed or len(set(offsets)) < len(offsets):
            errors.append(
                f"{host} tick {tick}: {len(offsets)} fetches at offsets "
                f"{sorted(offsets)[:_MAX_SHOWN]} break the {delay} ms politeness slots"
            )
    return errors


def last_rows(rows) -> dict[str, tuple]:
    """Final per-URL row of an update-mode stream: the row emitted for a URL
    by the last micro-batch that touched it. ``rows`` are output rows
    (url, pld, status, status_time, score, next_fetch_time) in batch order."""
    return {row[0]: tuple(row[1:]) for row in rows}


def check_stream(actual: dict[str, tuple], expected: dict[str, tuple]) -> list[str]:
    """The streaming URL DB's final state equals the batch merge folded over
    the same observations, value for value."""
    errors = []
    if missing := expected.keys() - actual.keys():
        errors.append(f"{len(missing)} URLs missing from the stream state: {_sample(missing)}")
    if extra := actual.keys() - expected.keys():
        errors.append(f"{len(extra)} URLs the observations never held: {_sample(extra)}")
    wrong = sorted(u for u in expected.keys() & actual.keys() if actual[u] != expected[u])
    if wrong:
        u = wrong[0]
        errors.append(
            f"{len(wrong)} URLs differ from the batch merge, e.g. {u}: "
            f"stream {actual[u]} vs batch {expected[u]}"
        )
    return errors
