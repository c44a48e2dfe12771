"""Byte/text cleaning with the reference's semantics (SURVEY.md §2.3
P3-P5), used inside the executor-side parse kernel (plain Python on
bytes, the hot path is one pass per record).

Semantics pinned (and unit-tested against golden fixtures):

- ``clean_xml_content``: characters outside the XML 1.0 valid set and
  control chars < 0x20 (except \\t \\n \\r) become a single space
  (reference utils.py:49-58).
- ``clean_xml_bytes``: strip + collapse all whitespace runs to one space —
  the reference applies this per record chunk on the streaming path, which
  destroys newlines inside free-text fields like ``notes`` (utils.py:7-37;
  acknowledged at utils.py:27).  We keep that behavior on the streaming
  parse path only, matching the reference's split personality (the label
  path uses ``clean_xml_content`` alone; SURVEY.md §4.3), and document it.
- ``fix_xml_structure_text``: drop stray ``<document>``/``<documents>``
  wrapper tags found in dirty pre-2010 dumps (reference process.py:221-238,
  process.py:22-45).
"""

from __future__ import annotations

import re

# XML 1.0 invalid character ranges (everything not in
# #x9 | #xA | #xD | [#x20-#xD7FF] | [#xE000-#xFFFD] | [#x10000-#x10FFFF]).
_INVALID_XML_RE = re.compile(
    "[^\x09\x0a\x0d\x20-퟿-�\U00010000-\U0010ffff]"
)
_WS_RUN_RE = re.compile(r"\s+")
_WRAPPER_TAG_TEXT_RE = re.compile(r"</?documents?>")
# A bare '&' (not starting a valid entity/char reference) is the most
# common well-formedness error in dirty dumps ("AT&T" in a profile);
# expat has no lxml-style recover mode, so repair it to &amp; pre-parse.
# The negative lookahead makes the substitution idempotent.
_BARE_AMP_RE = re.compile(r"&(?!(?:amp|lt|gt|quot|apos|#[0-9]+|#x[0-9a-fA-F]+);)")


def clean_xml_content(text: str) -> str:
    """Replace XML-invalid characters with a space (utils.py:49-58)."""
    return _INVALID_XML_RE.sub(" ", text)


def clean_xml_bytes(text: str) -> str:
    """Strip and collapse all whitespace runs to single spaces
    (utils.py:7-37).  Newline-destroying by design — see module doc."""
    return _WS_RUN_RE.sub(" ", text).strip()


def collapse_whitespace(text: str) -> str:
    """:func:`clean_xml_bytes` without the document-edge strip — the
    chunk-wise form for streaming repair (edges are stripped by the
    stream's header/flush handling instead)."""
    return _WS_RUN_RE.sub(" ", text)


def fix_xml_structure_text(text: str) -> str:
    """Remove stray <document>/<documents> wrapper tags
    (process.py:221-238)."""
    return _WRAPPER_TAG_TEXT_RE.sub("", text)


def escape_bare_amps(text: str) -> str:
    """Repair bare ampersands into ``&amp;`` (idempotent) — the stdlib
    pull parser dies mid-stream on an undefined entity where the
    reference's lxml ``recover=True`` kept going; escaping preserves the
    text instead of losing the record (or the task)."""
    return _BARE_AMP_RE.sub("&amp;", text)

