"""Span recorder and the traced kernel pass.

A span is ``(name, start, end, parent, trace_id)``; spans stay in
memory and are written out when the run ends. Kernel spans come from
wrapping the functions ``kernel/article.py`` calls, by replacing the
names in that module's namespace for the length of the traced pass
only: the program's source is not touched, and calls the kernel makes
internally through other modules are not wrapped, so the layer spans
under one ``kernel.article`` span never nest in each other.
"""
from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager

# layer → the names kernel/article.py calls that belong to it
KERNEL_LAYERS = {
    "dom.fromstring": ["fromstring"],
    "kernel.metadata": [
        "MetaIndex", "get_title", "get_authors", "get_meta_lang", "get_favicon",
        "get_meta_site_name", "get_meta_description", "get_canonical_link",
        "extract_tags", "get_meta_keywords", "get_meta_type", "get_meta_data",
        "get_publishing_date", "get_meta_img_url", "get_img_urls", "get_movies",
        "get_first_img_url",
    ],
    "kernel.cleaner": ["clean_document"],
    "kernel.scorer.best_node": ["calculate_best_node"],
    "kernel.scorer.post_cleanup": ["post_cleanup"],
    "kernel.formatter": ["get_formatted"],
}


class Recorder:
    """In-memory span list; the open span is the parent of new ones."""

    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent index, trace id]
        self._open: list[int] = []
        self.trace_id = ""

    def begin(self, name: str) -> int:
        """Open a span under the innermost open one, traced by the
        current trace_id; returns its index."""
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append([name, time.perf_counter(), None, parent, self.trace_id])
        self._open.append(idx)
        return idx

    def end(self, idx: int) -> None:
        """Close span idx, which must be the innermost open one."""
        self.spans[idx][2] = time.perf_counter()
        if self._open.pop() != idx:
            raise RuntimeError("spans must close innermost first")

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def to_json(self) -> list[dict]:
        return [
            {"name": n, "start": s, "end": e, "parent": p, "trace_id": t}
            for n, s, e, p, t in self.spans
        ]


def self_times(spans: list[list]) -> list[float]:
    """Per span: its duration minus the part its children cover (direct
    children of one span run one after another, so that part is their
    summed duration)."""
    child = [0.0] * len(spans)
    for _name, s, e, parent, _t in spans:
        if parent is not None:
            child[parent] += e - s
    return [e - s - child[i] for i, (_n, s, e, _p, _t) in enumerate(spans)]


def layer_totals(spans: list[list]) -> dict[str, dict]:
    """span name → {"total", "self", "durations"}."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for (name, s, e, _p, _t), st in zip(spans, selfs):
        agg = out.setdefault(name, {"total": 0.0, "self": 0.0, "durations": []})
        agg["total"] += e - s
        agg["self"] += st
        agg["durations"].append(e - s)
    return out


def pct(values: list[float], q: float) -> float:
    """The q-quantile by the nearest-rank rule (0 for no values)."""
    if not values:
        return 0.0
    vs = sorted(values)
    return vs[min(len(vs) - 1, max(0, round(q * len(vs)) - 1))]


@contextmanager
def patched(targets):
    """Set owner.attr = new for each (owner, attr, new); restore on exit."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _new in targets]
    try:
        for owner, attr, new in targets:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


@contextmanager
def kernel_wrappers(rec: Recorder):
    """Span wrappers on the kernel's layer calls, plus a counter of scorer
    candidates, for the length of the block."""
    from newspaper_spark.kernel import article, scorer

    counts = {"candidates": 0}
    nodes_to_check = scorer.nodes_to_check

    def counted(*args, **kwargs):
        out = nodes_to_check(*args, **kwargs)
        counts["candidates"] += len(out)
        return out

    targets = [
        (article, attr, rec.wrap(getattr(article, attr), layer))
        for layer, names in KERNEL_LAYERS.items()
        for attr in names
    ]
    targets += [
        (article, "extract_article", rec.wrap(article.extract_article, "kernel.article")),
        (scorer, "nodes_to_check", counted),
    ]
    with patched(targets):
        yield counts


def kernel_pass(turns, rec: Recorder) -> dict:
    """Run the kernel over every turn in this process twice, untraced
    then traced, each from a cold stopword cache as a fresh Python
    worker would start; returns the kernel layer metrics."""
    from newspaper_spark.dom import fromstring
    from newspaper_spark.kernel import article, text

    # first calls load the stopword lists and compile patterns: keep
    # that out of both timed passes
    for t in turns[:20]:
        article.extract_article(t.text, url="")
    cache = text._stopword_stats_cached
    cache.cache_clear()
    t0 = time.perf_counter()
    for t in turns:
        article.extract_article(t.text, url="")
    untraced_s = time.perf_counter() - t0

    cache.cache_clear()
    first = len(rec.spans)
    with kernel_wrappers(rec) as counts:
        t0 = time.perf_counter()
        for t in turns:
            rec.trace_id = f"{t.conv_id}/{t.turn_idx}"
            article.extract_article(t.text, url="")
        traced_s = time.perf_counter() - t0
    info = cache.cache_info()
    rec.trace_id = ""

    spans = rec.spans[first:]
    # parent indices are absolute; rebase them onto the slice, cutting
    # the link to any harness span the pass ran under
    spans = [[n, s, e, None if p is None or p < first else p - first, tid]
             for n, s, e, p, tid in spans]
    layers = layer_totals(spans)

    def total(name):
        return layers.get(name, {}).get("total", 0.0)

    art = layers.get("kernel.article", {"total": 0.0, "self": 0.0, "durations": []})
    parse = layers.get("dom.fromstring", {"durations": []})
    # tree sizes, counted outside the timed pass
    nodes = [
        1 + sum(1 for _ in doc.iterdescendants())
        for t in turns
        if isinstance(t.text, str) and t.text and not t.text.startswith("%PDF-")
        and (doc := fromstring(t.text)) is not None
    ]
    calls = info.hits + info.misses
    return {
        "dom.fromstring_s": total("dom.fromstring"),
        "dom.fromstring_s.p50": pct(parse["durations"], 0.5),
        "dom.fromstring_s.p99": pct(parse["durations"], 0.99),
        "dom.nodes_per_page": statistics.fmean(nodes) if nodes else 0.0,
        "kernel.metadata_s": total("kernel.metadata"),
        "kernel.cleaner_s": total("kernel.cleaner"),
        "kernel.scorer.best_node_s": total("kernel.scorer.best_node"),
        "kernel.scorer.post_cleanup_s": total("kernel.scorer.post_cleanup"),
        "kernel.scorer.candidates": counts["candidates"],
        "kernel.formatter_s": total("kernel.formatter"),
        "kernel.text.stopword_calls": calls,
        "kernel.text.stopword_hit_ratio": info.hits / calls if calls else 0.0,
        "kernel.article_s": art["total"],
        "kernel.article_s.p50": pct(art["durations"], 0.5),
        "kernel.article_s.p99": pct(art["durations"], 0.99),
        "kernel.article.self_s": art["self"],
        "trace.kernel_untraced_s": untraced_s,
        "trace.kernel_traced_s": traced_s,
        "trace.kernel_overhead": traced_s / untraced_s if untraced_s else 0.0,
    }
