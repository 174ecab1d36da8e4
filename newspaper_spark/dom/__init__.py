from .element import COMMENT, Element, is_comment, is_element, make_comment
from .htmlparser import fromstring, parse_document
from .ops import drop_tag, drop_tree, remove_keep_tail, strip_tags
from .select import (
    css_select,
    find_by_tag,
    find_by_tags,
    iter_comments,
)
from .serialize import node_to_html, outer_html

__all__ = [
    "COMMENT",
    "Element",
    "is_comment",
    "is_element",
    "make_comment",
    "fromstring",
    "parse_document",
    "drop_tag",
    "drop_tree",
    "remove_keep_tail",
    "strip_tags",
    "css_select",
    "find_by_tag",
    "find_by_tags",
    "iter_comments",
    "node_to_html",
    "outer_html",
]
