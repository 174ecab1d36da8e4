"""Seeded inputs for the benchmark workloads.

No Spark: the program under test receives only the rows built here. Every turn carries the main text and status the extractor
must return, derived from how the page was built (the body paragraphs,
joined by blank lines), never by running the extractor. The same seed
gives byte-identical rows.

Vocabularies are fixed per language (seeded by the language code), so a
seed changes which pages are drawn, not the language itself. Stopwords
come from the program's bundled stopword resource, the way a real page
in that language carries the language's function words.
"""
from __future__ import annotations

import datetime as dt
import html
import json
import math
import random
from dataclasses import dataclass
from pathlib import Path

from newspaper_spark.kernel.article import MAX_TEXT  # the cut on the main text

ROOT = Path(__file__).resolve().parents[1]
STOPWORDS_JSON = ROOT / "newspaper_spark" / "resources" / "stopwords.json"

EPOCH = dt.datetime(2014, 12, 30)

# share of pages per language; es/de exercise the space-split tokenizer
# with non-English stopwords, ar the word-punct one, zh/ja per-character
LANGS = (("en", 70), ("es", 8), ("de", 7), ("ar", 5), ("zh", 5), ("ja", 5))
_SPACED = {"en", "es", "de", "fr", "ar"}
_SENT_END = {"en": ".", "es": ".", "de": ".", "fr": ".", "ar": ".", "zh": "。", "ja": "。"}
_COMMA = {"en": ",", "es": ",", "de": ",", "fr": ",", "ar": "،", "zh": "，", "ja": "、"}


@dataclass
class Turn:
    """One transcript row plus what extraction must return for it."""

    conv_id: str
    turn_idx: int
    role: str
    text: str | None
    tool: str
    ts: dt.datetime
    expected_text: str
    expected_status: str

    @property
    def key(self) -> tuple[str, int]:
        return (self.conv_id, self.turn_idx)

    def row(self) -> tuple:
        return (self.conv_id, self.turn_idx, self.role, self.text, self.tool, self.ts)


# ---------------------------------------------------------------------------
# languages
# ---------------------------------------------------------------------------


class Lang:
    def __init__(self, code: str, stops: list[str], spaced: bool):
        rng = random.Random(f"vocab-{code}")
        self.code = code
        self.joiner = " " if spaced else ""
        if code in ("zh", "ja"):
            # the per-character tokenizer only ever sees one character,
            # so only single-character stopwords can count
            stops = [s for s in stops if len(s) == 1]
        self.stops = stops
        self.content = [self._word(rng) for _ in range(4000)]
        # ~45% function words, the density of running prose: repeat the
        # stopword list so a uniform draw lands on it that often
        reps = max(1, round(0.45 * len(self.content) / (0.55 * len(stops))))
        self._vocab = stops * reps + self.content

    def _word(self, rng: random.Random) -> str:
        code = self.code
        if code == "ar":
            letters = "ابتثجحخدذرزسشصضطظعغفقكلمنهوي"
            return "".join(rng.choice(letters) for _ in range(rng.randint(3, 7)))
        if code == "zh":
            return "".join(chr(rng.randint(0x4E00, 0x9FA5)) for _ in range(rng.randint(1, 3)))
        if code == "ja":
            kata = "".join(chr(rng.randint(0x30A1, 0x30F6)) for _ in range(rng.randint(2, 4)))
            return kata if rng.random() < 0.5 else chr(rng.randint(0x4E00, 0x9FA5)) + kata[:1]
        cons = "bcdfghjklmnprstvwz"
        vows = "aeiou" + {"es": "áéíóñ", "de": "äöüß", "fr": "éèàç"}.get(code, "")
        return "".join(
            rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(1, 4))
        ) + rng.choice(["", "n", "r", "s", "t"])

    def sentence(self, rng: random.Random, k: int) -> str:
        ws = rng.choices(self._vocab, k=k)
        # at least three function words, so a one-sentence paragraph
        # still clears the scorer's stopword floor
        ws[1], ws[k // 2 - 1], ws[-2] = rng.choices(self.stops, k=3)
        if self.code == "en" and rng.random() < 0.1:
            ws[rng.randrange(k)] = "R&D"
        if k > 8:
            ws[k // 2] += _COMMA[self.code]
        s = self.joiner.join(ws)
        if self.code in ("en", "es", "de", "fr"):
            s = s[0].upper() + s[1:]
        return s + _SENT_END[self.code]


_LANG_CACHE: dict[tuple[str, bool], Lang] = {}


def lang(code: str, spaced: bool | None = None) -> Lang:
    """The language's vocabulary; ``spaced`` separates words by spaces
    (by default only in the languages written that way)."""
    if spaced is None:
        spaced = code in _SPACED
    if (code, spaced) not in _LANG_CACHE:
        with open(STOPWORDS_JSON, encoding="utf-8") as f:
            raw = json.load(f)[code]
        # the extractor counts a stopword only as a lower-case run of
        # letters: capitalised entries and "don't" never match
        stops = sorted({w for w in (x.strip("\ufeff") for x in raw)
                        if w.isalpha() and w == w.lower()})
        _LANG_CACHE[code, spaced] = Lang(code, stops, spaced)
    return _LANG_CACHE[code, spaced]


def pick_lang(rng: random.Random) -> str:
    codes, weights = zip(*LANGS)
    return rng.choices(codes, weights=weights)[0]


# ---------------------------------------------------------------------------
# article pages
# ---------------------------------------------------------------------------

_SECTIONS = ["World", "Politics", "Business", "Tech", "Science", "Health",
             "Sports", "Culture", "Travel", "Opinion", "Video", "Weather"]

_STYLE = (
    "<style>body{margin:0;font:16px/1.5 Georgia,serif}.nav li{display:inline;"
    "padding:0 8px}.sidebar{float:right;width:300px}.ad{min-height:250px}"
    "#footer{color:#777}@media(max-width:600px){.sidebar{display:none}}</style>"
)
_HEAD_SCRIPT = (
    "<script>window.dataLayer=window.dataLayer||[];function gtag(){dataLayer"
    ".push(arguments)}gtag('js',new Date());gtag('config','UA-000000-1');"
    "var s=document.createElement('script');s.async=true;</script>"
)
_TAIL_SCRIPT = (
    "<script type=\"text/javascript\">(function(){var c=document.cookie;"
    "if(c.indexOf('consent=1')<0){document.body.className+=' needs-consent'}"
    "})();</script>"
)

# (site, section-list class, body wrapper open, body wrapper close)
_TEMPLATES = [
    ("Daily Ledger", "nav-menu",
     '<article class="story"><div class="entry-content">', "</div></article>"),
    ("Harbor Times", "topnav",
     '<div class="story-wrap"><div class="story-body"><div class="text">',
     "</div></div></div>"),
    ("Metro Wire", "menu-main",
     '<main><div id="content"><div class="article-text">', "</div></div></main>"),
    ("Northern Post", "sections",
     '<div class="col-8"><div class="post"><div class="post-content">',
     "</div></div></div>"),
    ("Civic Review", "primary-nav",
     '<div class="article"><div itemprop="articleBody">', "</div></div>"),
]


def _links(rng: random.Random, lg: Lang, n: int, path: str) -> str:
    items = []
    for _ in range(n):
        words = lg.joiner.join(rng.choice(lg.content) for _ in range(rng.randint(3, 7)))
        items.append(
            f'<li><a href="/{path}/{rng.randrange(10**6)}">{html.escape(words)}</a></li>'
        )
    return "".join(items)


def _paragraph(rng: random.Random, lg: Lang, target_chars: int) -> tuple[str, str]:
    """(html, text) of one body paragraph of about target_chars."""
    pieces: list[tuple[str, str | None]] = []
    size = 0
    while size < target_chars or not pieces:
        s = lg.sentence(rng, rng.randint(8, 22))
        pieces.append((s, None))
        size += len(s) + 1
    # inline markup between sentences: a link or emphasis the formatter
    # unwraps; spaces around it keep the text's word boundaries
    if rng.random() < 0.35:
        run = lg.joiner.join(rng.choice(lg.content) for _ in range(rng.randint(2, 4)))
        tag = rng.choice(["a", "a", "b", "strong", "i"])
        pieces.insert(rng.randint(0, len(pieces)), (run, tag))
    parts = []
    for text, tag in pieces:
        esc = html.escape(text, quote=False)
        if tag == "a":
            parts.append(f'<a href="/topic/{rng.randrange(10**5)}">{esc}</a>')
        elif tag:
            parts.append(f"<{tag}>{esc}</{tag}>")
        else:
            parts.append(esc)
    return "<p>" + " ".join(parts) + "</p>", " ".join(t for t, _ in pieces)


def article_page(rng: random.Random, body_chars: int, compact: bool = False,
                 lg: Lang | None = None) -> tuple[str, str]:
    """(page html, expected main text) with about body_chars of body."""
    lg = lg or lang(pick_lang(rng))
    code = lg.code
    site, nav_cls, open_body, close_body = rng.choice(_TEMPLATES)
    title = lg.joiner.join(rng.choice(lg.content) for _ in range(rng.randint(4, 9)))
    author = " ".join(rng.choice(lang("en").content).title() for _ in range(2))
    day = EPOCH - dt.timedelta(days=rng.randrange(3000))
    url = f"https://{site.lower().replace(' ', '')}.example/{day:%Y/%m/%d}/story-{rng.randrange(10**7)}"

    paras_html, paras_text = [], []
    size = 0
    while size < body_chars or not paras_html:
        # the last paragraph only tops the body up to its size
        h, t = _paragraph(rng, lg, min(rng.randint(150, 700), body_chars - size))
        paras_html.append(h)
        paras_text.append(t)
        size += len(t) + 2
    expected = "\n\n".join(paras_text)[:MAX_TEXT]

    head = (
        f'<!DOCTYPE html><html lang="{code}"><head><meta charset="utf-8">'
        f"<title>{html.escape(title)} | {site}</title>"
        f'<meta name="description" content="{html.escape(paras_text[0][:150])}">'
        f'<meta property="og:site_name" content="{site}">'
        f'<meta property="og:type" content="article">'
        f'<meta name="author" content="{author}">'
        f'<meta property="article:published_time" content="{day:%Y-%m-%d}T08:00:00Z">'
        f'<link rel="canonical" href="{url}">'
    )
    if compact:
        # a tool/browser fetch: the page without the site furniture
        page = (
            head + "</head><body>"
            + f'<div class="nav"><ul class="{nav_cls}">'
            + _links(rng, lg, 4, "section") + "</ul></div>"
            + f"<h1>{html.escape(title)}</h1>"
            + open_body + "".join(paras_html) + close_body
            + '<div id="footer">&copy; ' + site + "</div></body></html>"
        )
        return page, expected

    nav = "".join(
        f'<li><a href="/{s.lower()}">{s}</a></li>' for s in rng.sample(_SECTIONS, 8)
    )
    page = (
        head + _STYLE + _HEAD_SCRIPT + "</head>"
        + '<body class="article-page"><!-- page generated by cms -->'
        + '<div id="page"><div class="header">'
        + f'<div class="navbar"><ul class="{nav_cls}">{nav}</ul></div>'
        + '<form class="search" action="/search" method="get">'
        + '<input type="text" name="q" placeholder="Search"><button>Go</button></form>'
        + "</div>"
        + '<div class="layout"><div class="main">'
        + f'<div class="breadcrumbs"><a href="/">Home</a> &gt; <a href="/news">News</a></div>'
        + f"<h1>{html.escape(title)}</h1>"
        + f'<div class="byline">By {author} | {day:%B %d, %Y}</div>'
        + open_body + "".join(paras_html) + close_body
        + '<div class="share-tools"><a href="#">Share</a> <a href="#">Tweet</a></div>'
        + '<div class="related-links"><h3>Related</h3><ul>'
        + _links(rng, lg, rng.randint(4, 8), "related") + "</ul></div>"
        + "<!-- end article -->"
        + "</div>"
        + '<div class="sidebar"><h3>Most read</h3><ol class="popular">'
        + _links(rng, lg, rng.randint(5, 10), "popular") + "</ol>"
        + '<div class="ad">Advertisement</div>'
        + '<form class="subscribe-box" action="/subscribe"><input type="email" name="e">'
        + "<button>Sign up</button></form></div></div>"
        + '<div id="footer"><ul>' + _links(rng, lg, 6, "about") + "</ul>"
        + f"<p>Copyright {day.year} {site}. All rights reserved.</p></div>"
        + "</div>" + _TAIL_SCRIPT + "</body></html>"
    )
    return page, expected


def _lognormal_sizes(rng: random.Random, n: int, median: float, sigma: float) -> list[int]:
    """n sizes drawn by stratified sampling of a log-normal, so every
    seed gets the same size mix in a different order."""
    from statistics import NormalDist

    nd = NormalDist(math.log(median), sigma)
    sizes = [int(math.exp(nd.inv_cdf((i + rng.random()) / n))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------

TAIL_SHARE = 0.005  # article pages whose main text runs past MAX_TEXT
PAGE_SHARE = 0.5  # turns that are fetched article pages
MEGA_SHARE = 0.15  # turns in the one mega-conversation


def _page_bodies(rng: random.Random, n: int) -> list[int]:
    """Body sizes of n article pages: log-normal around a ~10 KB page,
    plus a fixed share of pages past the extractor's text cut."""
    body = _lognormal_sizes(rng, n, 6000, 0.8)
    for i in rng.sample(range(n), max(1, round(n * TAIL_SHARE))):
        body[i] = rng.randint(102_000, 125_000)
    return body


_MD_BITS = ["## ", "### ", "- ", "* ", "1. ", "> "]


def _chat_text(rng: random.Random, role: str) -> str:
    """A user question, or an assistant answer in markdown."""
    lg = lang("en")
    if role == "user":
        return lg.sentence(rng, rng.randint(4, 30))[:-1] + "?"
    lines = []
    for _ in range(rng.randint(1, 12)):
        r = rng.random()
        if r < 0.15:
            lines.append(rng.choice(_MD_BITS) + lg.sentence(rng, rng.randint(3, 10)))
        elif r < 0.22:
            code = "\n".join(
                f"    x_{j} = compute({j}, **opts)" for j in range(rng.randint(1, 5))
            )
            lines.append("```python\n" + code + "\n```")
        else:
            lines.append(" ".join(lg.sentence(rng, rng.randint(6, 24))
                                  for _ in range(rng.randint(1, 4))).replace(
                "R&D", "**R&D**"))
    return "\n\n".join(lines)


def _payload(rng: random.Random, kind: str, t: int, page: tuple | None):
    """(role, text, tool, expected_text, expected_status) of one turn;
    page is (body chars, language) for a page turn.

    Chat turns hold no HTML, so there is no article to find: the
    extractor parses them and returns empty text."""
    if kind == "page":
        page, text = article_page(rng, page[0], lg=lang(page[1]))
        return "tool", page, "browser", text, "ok"
    if kind == "null":
        return "tool", None, "browser", "", "no_html"
    if kind == "empty":
        return "tool", "", "browser", "", "no_html"
    if kind == "pdf":
        blob = "".join(chr(rng.randint(32, 126)) for _ in range(rng.randint(200, 2000)))
        return "tool", f"%PDF-1.{rng.randint(3, 7)}\n{blob}", "browser", "", "skipped_media"
    role = "user" if t % 2 == 0 else "assistant"
    return role, _chat_text(rng, role), "", "", "ok"


def job_transcripts(seed: int, n: int) -> list[Turn]:
    """n transcript turns: PAGE_SHARE are fetched article pages (see
    :func:`article_page`), ~1% each null, empty and PDF payloads, the
    rest user/assistant chat and markdown. Conversation lengths are
    Zipf-skewed, and one mega-conversation holds MEGA_SHARE of all
    turns, so bucketing by conversation needs salting to spread it.

    The seed draws the words; the table's shape (conversation lengths,
    which turns are pages, page sizes and languages) is fixed, so a seed
    changes what the job reads, not how much."""
    shape = random.Random(f"job_resume-shape-{n}")
    rng = random.Random(f"job_resume-{seed}")
    n_pages, k = int(n * PAGE_SHARE), max(1, n // 100)
    kinds = ["page"] * n_pages + ["null", "empty", "pdf"] * k
    kinds += ["chat"] * (n - len(kinds))
    shape.shuffle(kinds)
    pages = iter(zip(_page_bodies(shape, n_pages),
                     [pick_lang(shape) for _ in range(n_pages)]))

    lengths = [int(n * MEGA_SHARE)]
    while sum(lengths) < n:
        # Pareto(alpha=1.2) lengths by inverse transform, capped at 60
        lengths.append(min(int((1 - shape.random()) ** (-1 / 1.2)), 60, n - sum(lengths)))
    turns = []
    for c, length in enumerate(lengths):
        conv = "conv-mega" if c == 0 else f"conv-{c:05d}"
        for t in range(length):
            kind = kinds[len(turns)]
            role, text, tool, exp, status = _payload(
                rng, kind, t, next(pages) if kind == "page" else None)
            turns.append(Turn(conv, t, role, text, tool,
                              EPOCH + dt.timedelta(seconds=37 * len(turns)), exp, status))
    return turns


# ---------------------------------------------------------------------------
# corpus tables for the downstream operators
# ---------------------------------------------------------------------------


# The corpus table follows the sf0.1 `documents` table (5,000 rows) the
# downstream queries are written for, as measured there: text lengths
# near-uniform over 44..577 chars, lang en 41%, zh/es/fr 15% each, de
# 14%, every language's words space-separated; 5% near copies (an
# earlier text plus one word) and 0.16% exact copies; source =
# src{doc_id % 20}.
CORPUS_LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))
CORPUS_CHARS = (0, 480)  # body sizes asked for; see the README for the fit
NEAR_COPY_SHARE = 0.05
EXACT_COPY_SHARE = 0.0016


def corpus_table(seed: int, n_docs: int):
    """(documents, pages): documents is the extracted corpus of n_docs
    small article pages (doc_id, text, lang, source, n_chars), with near
    and exact copies of earlier pages for the dedup operators; pages
    holds the source page of each document. As in
    :func:`job_transcripts`, the seed draws the words, and the shape
    (sizes, languages, which documents are copies) is fixed."""
    shape = random.Random(f"corpus_ops-shape-{n_docs}")
    rng = random.Random(f"corpus_ops-{seed}")
    lo, hi = CORPUS_CHARS
    sizes = [lo + int((i + shape.random()) * (hi - lo) / n_docs) for i in range(n_docs)]
    shape.shuffle(sizes)
    exact = set(shape.sample(range(21, n_docs), round(n_docs * EXACT_COPY_SHARE)))
    codes, weights = zip(*CORPUS_LANGS)
    docs, pages = [], []
    for i, size in enumerate(sizes):
        code = shape.choices(codes, weights=weights)[0]
        near = i > 20 and i not in exact and shape.random() < NEAR_COPY_SHARE
        if i in exact or near:
            j = shape.randrange(i)
            page, text, code = pages[j], docs[j][1], docs[j][2]
            if near:
                word = rng.choice(lang(code, spaced=True).content)
                head, tail = page.rsplit("</p>", 1)
                page, text = f"{head} {word}</p>{tail}", f"{text} {word}"
        else:
            page, text = article_page(rng, size, compact=True, lg=lang(code, spaced=True))
        docs.append((i, text, code, f"src{i % 20}", len(text)))
        pages.append(page)
    return docs, pages
