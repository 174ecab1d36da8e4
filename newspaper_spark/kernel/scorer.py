"""Stopword-density / link-density gravity scoring.

Re-expression of ContentExtractor's body-finding core
(/root/reference/newspaper/extractors.py:773-1053): candidate <p>/<pre>/
<td> nodes are filtered by stopword count and link density, scored with
first-paragraph boosts and bottom-quartile penalties, scores accumulate
on parents (full) and grandparents (half), and the argmax parent wins
(first-wins tie-break). ``post_cleanup`` grafts qualifying preceding
sibling paragraphs and prunes link-heavy non-<p> children.

Within one document this is intentionally sequential tree work — it runs
per Arrow-batch row inside the pandas UDF stage; cross-document
parallelism is Spark's partitioning.
"""
from __future__ import annotations

from ..dom import Element, find_by_tag, remove_keep_tail
from .text import inner_trim, stopword_stats


def get_text(node: Element) -> str:
    parts: list = []
    node._gather_text(parts)
    return inner_trim(" ".join(parts).strip())


def is_highlink_density(e: Element) -> bool:
    """(link_words / words) * num_links >= 1.0 (extractors.py:973-998).

    Word counting is the goose-era ``text.split(' ')`` (every whitespace
    token counts), NOT the reference's current ``isalnum()``-filtered
    variant: the golden corpus encodes the older behavior — with the
    isalnum filter, 9 fixtures (avclub, mashable2, gulflive2,
    oregonlive1, telegraph1, thedebrief×2, space1, lifebuzz1) fail on
    borderline boilerplate that the goldens keep/remove; with goose
    counting all 9 match byte-for-byte. Verified empirically against
    the 145-URL corpus (32 → 23 failures)."""
    links = find_by_tag(e, tag="a")
    if not links:
        return False
    text = get_text(e)
    words = text.split(" ")
    words_number = float(len(words))
    link_text = "".join(get_text(link) for link in links)
    num_link_words = float(len(link_text.split(" ")))
    num_links = float(len(links))
    score = (num_link_words / words_number) * num_links
    return score >= 1.0


def _update_score(node: Element, add: float) -> None:
    current = 0.0
    s = node.attrib.get("gravityScore")
    if s:
        current = float(s)
    node.set("gravityScore", str(current + add))


def _update_node_count(node: Element, add: int) -> None:
    current = 0
    s = node.attrib.get("gravityNodes")
    if s:
        current = int(s)
    node.set("gravityNodes", str(current + add))


def get_score(node: Element) -> float:
    s = node.attrib.get("gravityScore")
    if not s:
        return 0
    return float(s)


# Candidate tags: the reference's current code scans ("p", "pre", "td")
# (extractors.py:1012-1020), but its golden corpus encodes the era
# before <td> was a candidate: with td included, the Purch-template
# image-caption tables (livescience×2, space) land at the end of the
# candidate list, collect the bottom-quartile penalty, and get their
# <tr> removed by remove_negativescores_nodes — while the goldens keep
# those captions (verified: corpus failures 23 → 21 when td is
# excluded, no regressions).
CANDIDATE_TAGS = ("p", "pre")


def nodes_to_check(doc: Element) -> list:
    out = []
    for tag in CANDIDATE_TAGS:
        out += find_by_tag(doc, tag=tag)
    return out


def _is_boostable(node: Element, node_stats) -> bool:
    """≤3 preceding <p> siblings, any with >5 stopwords
    (extractors.py:845-870)."""
    steps_away = 0
    for current_node in node.itersiblings(preceding=True):
        if current_node.tag == "p":
            if steps_away >= 3:
                return False
            if node_stats(current_node).stop_word_count > 5:
                return True
            steps_away += 1
    return False


def calculate_best_node(doc: Element, language: str = "en"):
    top_node = None
    candidates = nodes_to_check(doc)
    starting_boost = 1.0
    cnt = 0
    i = 0
    parent_nodes = []
    nodes_with_text = []

    # stopword stats are recomputed for the same unmutated nodes in the
    # filter pass, the boost look-behind, and the scoring pass — memoize
    # per invocation (only gravity ATTRIBUTES mutate between passes)
    stats_cache: dict = {}

    def _node_stats(node):
        key = id(node)
        hit = stats_cache.get(key)
        if hit is None:
            hit = stopword_stats(get_text(node), language)
            stats_cache[key] = hit
        return hit

    for node in candidates:
        word_stats = _node_stats(node)
        if word_stats.stop_word_count > 2 and not is_highlink_density(node):
            nodes_with_text.append(node)

    nodes_number = len(nodes_with_text)
    negative_scoring = 0
    bottom_negativescore_nodes = float(nodes_number) * 0.25

    for node in nodes_with_text:
        boost_score = 0.0
        if _is_boostable(node, _node_stats):
            if cnt >= 0:
                boost_score = (1.0 / starting_boost) * 50
                starting_boost += 1
        if nodes_number > 15:
            if (nodes_number - i) <= bottom_negativescore_nodes:
                booster = float(bottom_negativescore_nodes - (nodes_number - i))
                boost_score = float(-pow(booster, 2.0))
                negscore = abs(boost_score) + negative_scoring
                if negscore > 40:
                    boost_score = 5.0
                # goldens-era semantics: cumulative negativity — the
                # current reference declares negative_scoring but never
                # updates it (extractors.py:791,807); its golden corpus
                # requires accumulation (bhg.com1's trailing slideshow
                # item flips to the +5 reset only once the running
                # negativity crosses 40). Verified: corpus failures
                # 21 → 20 (all remaining are sentinel goldens) with no
                # regressions.
                negative_scoring += abs(boost_score)

        word_stats = _node_stats(node)
        upscore = int(word_stats.stop_word_count + boost_score)

        parent_node = node.getparent()
        if parent_node is not None:
            _update_score(parent_node, upscore)
            _update_node_count(parent_node, 1)
            if parent_node not in parent_nodes:
                parent_nodes.append(parent_node)

            parent_parent_node = parent_node.getparent()
            if parent_parent_node is not None:
                _update_node_count(parent_parent_node, 1)
                _update_score(parent_parent_node, upscore / 2)
                if parent_parent_node not in parent_nodes:
                    parent_nodes.append(parent_parent_node)
        cnt += 1
        i += 1

    top_node_score = 0
    for e in parent_nodes:
        score = get_score(e)
        if score > top_node_score:
            top_node = e
            top_node_score = score
        if top_node is None:
            top_node = e
    return top_node


def get_siblings_score(top_node: Element, language: str) -> float:
    """Mean stopword count over qualifying <p> descendants
    (extractors.py:921-947)."""
    base = 100000
    paragraphs_number = 0
    paragraphs_score = 0
    for node in find_by_tag(top_node, tag="p"):
        text_node = get_text(node)
        word_stats = stopword_stats(text_node, language)
        if word_stats.stop_word_count > 2 and not is_highlink_density(node):
            paragraphs_number += 1
            paragraphs_score += word_stats.stop_word_count
    if paragraphs_number > 0:
        base = paragraphs_score / paragraphs_number
    return base


def get_siblings_content(current_sibling: Element, baseline: float, language: str):
    if current_sibling.tag == "p" and len(get_text(current_sibling)) > 0:
        e0 = current_sibling
        if e0.tail:
            e0 = e0.copy_subtree()
            e0.tail = ""
        return [e0]
    ps = []
    for first_paragraph in find_by_tag(current_sibling, tag="p"):
        text = get_text(first_paragraph)
        if len(text) > 0:
            paragraph_score = stopword_stats(text, language).stop_word_count
            score = float(baseline * 0.30)
            if score < paragraph_score and not is_highlink_density(first_paragraph):
                ps.append(Element("p", text=text))
    return ps


def add_siblings(top_node: Element, language: str) -> Element:
    baseline = get_siblings_score(top_node, language)
    for current_node in list(top_node.itersiblings(preceding=True)):
        for p in get_siblings_content(current_node, baseline, language):
            top_node.insert(0, p)
    return top_node


def post_cleanup(top_node: Element, language: str = "en") -> Element:
    """add_siblings + prune link-heavy non-<p> children
    (extractors.py:1043-1053)."""
    node = add_siblings(top_node, language)
    for e in list(node):
        if e.tag != "p":
            if is_highlink_density(e):
                remove_keep_tail(e)
    return node
