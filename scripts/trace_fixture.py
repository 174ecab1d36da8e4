"""Debug helper: trace where a text snippet is lost in the pipeline.

Runs the stages extract_article runs, in its order: parse →
clean_document → best node → post_cleanup → the formatter's steps, and
prints after each whether the snippet is still in the tree.

Usage: python scripts/trace_fixture.py <page.html> <snippet>
"""
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from newspaper_spark.dom import fromstring
from newspaper_spark.kernel import formatter as F
from newspaper_spark.kernel.article import extract_article
from newspaper_spark.kernel.cleaner import clean_document
from newspaper_spark.kernel.metadata import MetaIndex, get_meta_lang
from newspaper_spark.kernel.scorer import calculate_best_node, post_cleanup


def has(node, snippet):
    return snippet in "".join(node.itertext())


def main():
    path, snippet = sys.argv[1], sys.argv[2]
    html = pathlib.Path(path).read_text(encoding="utf-8")
    doc = fromstring(html)
    if doc is None:
        print("parse failed")
        return
    lang = get_meta_lang(doc, MetaIndex(doc)) or "en"
    print("lang:", lang)
    print("parsed:", has(doc, snippet))
    doc = clean_document(doc)
    print("after clean_document:", has(doc, snippet))
    top = calculate_best_node(doc, lang)
    if top is None:
        print("no top node")
        return
    print("top tag:", top.tag, dict(top.attrib))
    print("in top:", has(top, snippet))
    top = post_cleanup(top, lang)
    print("after post_cleanup:", has(top, snippet))
    # get_formatted's steps, in its order
    for label, fn in [
        ("negscores", F.remove_negativescores_nodes),
        ("links", F.links_to_text),
        ("br", F.add_newline_to_br),
        ("li", F.add_newline_to_li),
        ("replace", F.replace_with_text),
        ("empty", F.remove_empty_tags),
        ("media", F.remove_trailing_media_div),
    ]:
        fn(top)
        print(f"after {label}: {has(top, snippet)}")
    print("in final text:", snippet in F.convert_to_text(top))
    print("in extract_article text:", snippet in extract_article(html)["text"])


if __name__ == "__main__":
    main()
