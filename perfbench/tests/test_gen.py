"""The generators: deterministic per seed, and their expected texts are
what the extractor returns."""
import random

import pytest

from newspaper_spark.kernel.article import extract_article
from perfbench import gen


@pytest.mark.parametrize("seed", [0, 7])
def test_same_seed_same_rows(seed):
    assert [t.row() for t in gen.job_transcripts(seed, 120)] == [
        t.row() for t in gen.job_transcripts(seed, 120)]
    assert gen.corpus_table(seed, 60) == gen.corpus_table(seed, 60)


def test_seeds_change_content_not_shape():
    a, b = gen.job_transcripts(1, 120), gen.job_transcripts(2, 120)
    assert [t.text for t in a] != [t.text for t in b]
    assert [(t.key, t.role) for t in a] == [(t.key, t.role) for t in b]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_expected_text_is_extractor_output(seed):
    for t in gen.job_transcripts(seed, 150):
        rec = extract_article(t.text)
        assert (rec["text"], rec["status"]) == (t.expected_text, t.expected_status), t.key


@pytest.mark.parametrize("seed", [1, 2])
def test_corpus_documents_are_extracted_pages(seed):
    docs, pages = gen.corpus_table(seed, 80)
    for (doc_id, text, _lang, _src, n_chars), page in zip(docs, pages):
        assert extract_article(page)["text"] == text, doc_id
        assert n_chars == len(text)


def test_tail_pages_pass_the_text_cut():
    turns = gen.job_transcripts(5, 400)
    longest = max(turns, key=lambda t: len(t.expected_text))
    assert len(longest.expected_text) == gen.MAX_TEXT
    assert extract_article(longest.text)["text"] == longest.expected_text


def test_every_tokenizer_language_appears():
    langs = {gen.pick_lang(random.Random(i)) for i in range(400)}
    # space-split (en/es/de), word-punct (ar) and per-character (zh/ja)
    assert {"en", "es", "de", "ar", "zh", "ja"} <= langs


def test_a_wrong_status_fails_the_turn():
    from perfbench.workloads import check_turns

    turns = gen.job_transcripts(1, 120)
    rows = [{"conv_id": t.conv_id, "turn_idx": t.turn_idx, "text": t.expected_text,
             "status": t.expected_status} for t in turns]
    assert check_turns(rows, turns)[:2] == (120, 0)
    # a PDF no longer skipped, with the same empty text
    pdf = next(r for r in rows if r["status"] == "skipped_media")
    pdf["status"] = "ok"
    assert check_turns(rows, turns)[:2] == (120, 1)
