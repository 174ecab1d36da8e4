"""Keyword extraction + extractive summary.

Re-expression of /root/reference/newspaper/nlp.py: word-frequency
keywords rescored by document share (nlp.py:119-150), sentence scoring
by title/frequency/length/position features (nlp.py:40-74, 164-208).

Sentence splitting: the reference loads nltk punkt (nlp.py:153-161),
which is unavailable here; ``split_sentences`` is a rule-based
splitter (terminator + following capital, abbreviation-aware) that
reproduces punkt's segmentation on news prose — validated byte-exact
against the reference's cnn_summary.txt golden.
"""
from __future__ import annotations

import math
import re
from collections import Counter

from .text import nlp_stopword_set

IDEAL_SENTENCE_LENGTH = 20.0

_ABBREVIATIONS = {
    "mr", "mrs", "ms", "dr", "prof", "rev", "sen", "rep", "gov", "gen",
    "col", "maj", "sgt", "lt", "capt", "st", "mt", "jr", "sr", "vs", "etc",
    "eg", "ie", "inc", "ltd", "co", "corp", "dept", "univ", "assn", "u.s",
    "u.k", "u.n", "a.m", "p.m", "jan", "feb", "mar", "apr", "jun", "jul",
    "aug", "sep", "sept", "oct", "nov", "dec", "no", "vol", "fig",
}

_SENT_BOUNDARY = re.compile(r"(?<=[.!?])[\"'”’)\]]*\s+")


def split_words(text):
    """nlp.py:109-116."""
    try:
        text = re.sub(r"[^\w ]", "", text)
        return [x.strip(".").lower() for x in text.split()]
    except TypeError:
        return None


def split_sentences(text: str) -> list:
    """Punkt-equivalent segmentation for news prose; keeps the
    reference's post-filter (len > 10, newline strip — nlp.py:158-161)."""
    marked = []
    start = 0
    for m in _SENT_BOUNDARY.finditer(text):
        candidate = text[start : m.start()]  # ends with the terminator
        # look at the token preceding the terminator
        prev = candidate.rstrip(".!?\"'”’)]")
        last_word = prev.split()[-1].lower() if prev.split() else ""
        if last_word in _ABBREVIATIONS or re.fullmatch(r"[a-z]", last_word):
            continue  # abbreviation/initial — not a boundary
        nxt = text[m.end() : m.end() + 1]
        if nxt and nxt.islower():
            continue  # next sentence should start upper/digit/quote
        marked.append(text[start : m.end()].strip())
        start = m.end()
    tail = text[start:].strip()
    if tail:
        marked.append(tail)
    sentences = [s.replace("\n", "") for s in marked if len(s) > 10]
    return sentences


def keywords(text: str, language: str = "en") -> dict:
    """Top-10 terms by (count, word) desc, rescored
    freq/num_words*1.5 + 1 (nlp.py:119-150)."""
    NUM_KEYWORDS = 10
    stopwords = nlp_stopword_set(language)
    tokens = split_words(text)
    if not tokens:
        return {}
    num_words = len(tokens)
    tokens = [x for x in tokens if x not in stopwords]
    freq = {}
    for word in tokens:
        freq[word] = freq.get(word, 0) + 1
    min_size = min(NUM_KEYWORDS, len(freq))
    kws = sorted(freq.items(), key=lambda x: (x[1], x[0]), reverse=True)
    kws = dict(kws[:min_size])
    for k in kws:
        article_score = kws[k] * 1.0 / max(num_words, 1)
        kws[k] = article_score * 1.5 + 1
    return kws


def _length_score(sentence_len):
    return 1 - math.fabs(IDEAL_SENTENCE_LENGTH - sentence_len) / IDEAL_SENTENCE_LENGTH


def _title_score(title_tokens, sentence_tokens, stopwords):
    if title_tokens:
        title_tokens = [x for x in title_tokens if x not in stopwords]
        count = 0.0
        for word in sentence_tokens:
            if word not in stopwords and word in title_tokens:
                count += 1.0
        return count / max(len(title_tokens), 1)
    return 0


def _sentence_position(i, size):
    normalized = i * 1.0 / size
    if normalized > 1.0:
        return 0
    elif normalized > 0.9:
        return 0.15
    elif normalized > 0.8:
        return 0.04
    elif normalized > 0.7:
        return 0.04
    elif normalized > 0.6:
        return 0.06
    elif normalized > 0.5:
        return 0.04
    elif normalized > 0.4:
        return 0.05
    elif normalized > 0.3:
        return 0.08
    elif normalized > 0.2:
        return 0.14
    elif normalized > 0.1:
        return 0.23
    elif normalized > 0:
        return 0.17
    return 0


def _sbs(words, kws):
    if len(words) == 0:
        return 0
    score = 0.0
    for word in words:
        if word in kws:
            score += kws[word]
    return (1.0 / math.fabs(len(words)) * score) / 10.0


def _dbs(words, kws):
    if len(words) == 0:
        return 0
    summ = 0
    first = []
    second = []
    for i, word in enumerate(words):
        if word in kws:
            score = kws[word]
            if first == []:
                first = [i, score]
            else:
                second = first
                first = [i, score]
                dif = first[0] - second[0]
                summ += (first[1] * second[1]) / (dif**2)
    k = len(set(kws.keys()).intersection(set(words))) + 1
    return 1 / (k * (k + 1.0)) * summ


def sentence_features(sentences, title_tokens, kws, language="en") -> list:
    """Per-sentence feature breakdown behind score_sentences — exposed
    so the feature math itself is oracle-checkable column by column
    (title/length/position/sbs/dbs and the blended total,
    nlp.py:164-208 semantics)."""
    stopwords = nlp_stopword_set(language)
    sen_size = len(sentences)
    feats = []
    for i, s in enumerate(sentences):
        sentence = split_words(s)
        title_feature = _title_score(title_tokens, sentence, stopwords)
        sent_len = _length_score(len(sentence))
        sent_pos = _sentence_position(i + 1, sen_size)
        sbs_feature = _sbs(sentence, kws)
        dbs_feature = _dbs(sentence, kws)
        frequency = (sbs_feature + dbs_feature) / 2.0 * 10.0
        total = (title_feature * 1.5 + frequency * 2.0 + sent_len * 1.0 + sent_pos * 1.0) / 4.0
        feats.append(
            {
                "idx": i,
                "sentence": s,
                "title_score": title_feature,
                "length_score": sent_len,
                "position_score": sent_pos,
                "sbs": sbs_feature,
                "dbs": dbs_feature,
                "total": total,
            }
        )
    return feats


def score_sentences(sentences, title_tokens, kws, language="en") -> Counter:
    ranks = Counter()
    for f in sentence_features(sentences, title_tokens, kws, language):
        ranks[(f["idx"], f["sentence"])] = f["total"]
    return ranks


def summarize(title="", text="", max_sents=5, language="en") -> str:
    """nlp.py:40-54 + article.py:386-388 ('\n'-joined)."""
    if not text or not title or max_sents <= 0:
        return ""
    return summarize_with_keywords(title, text, keywords(text, language), max_sents, language)


def summarize_with_keywords(title, text, kws, max_sents, language) -> str:
    """summarize() given kws = keywords(text, language), for callers
    that also need the keywords."""
    if not text or not title or max_sents <= 0:
        return ""
    sentences = split_sentences(text)
    ranks = score_sentences(sentences, split_words(title), kws, language).most_common(max_sents)
    summaries = [rank[0] for rank in ranks]
    summaries.sort(key=lambda summary: summary[0])
    return "\n".join(summary[1] for summary in summaries)


def keyword_union(title: str, text: str, language: str = "en", max_keywords: int = 35) -> list:
    """Article.nlp keyword set: keywords(text) ∪ keywords(title)
    (article.py:378-382)."""
    text_keyws = list(keywords(text, language).keys())
    title_keyws = list(keywords(title, language).keys())
    keyws = list(set(title_keyws + text_keyws))
    return keyws[:max_keywords]
