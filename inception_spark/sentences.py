"""Deterministic sentence segmentation.

The reference uses ``nltk.tokenize.sent_tokenize`` (punkt)
(``/root/reference/inception/embedding_service.py:64-78``).  NLTK is not
available in this environment, so this is a self-contained punkt-style
heuristic splitter covering the behaviors the reference's tests exercise
(legal text with abbreviations, quoted phrases, parenthesized years —
tests/test_embedding_service.py:269-327):

* split after ``. ! ?`` runs, optionally followed by closing quotes/brackets;
* only when followed by whitespace and an upper-case letter, digit, or
  opening quote/bracket;
* never split after common abbreviations (Mr., Dr., U.S., No., e.g., ...);
* never split inside decimal numbers (3.14) or single-letter initials (J. D.).

For exact punkt parity, pass ``nltk.tokenize.sent_tokenize`` (or any
``str -> list[str]`` callable) as ``split_text_into_chunks(sentence_splitter=...)``.
"""

from __future__ import annotations

import re

# Abbreviations that commonly precede a period without ending the sentence.
# Superset of what legal opinions need (reference fixture is Brown v. Board).
_ABBREVS = {
    "mr", "mrs", "ms", "dr", "prof", "rev", "hon", "jr", "sr", "st",
    "v", "vs", "etc", "e.g", "i.e", "cf", "al", "inc", "ltd", "co", "corp",
    "no", "nos", "vol", "ch", "sec", "fig", "art", "approx", "dept", "est",
    "jan", "feb", "mar", "apr", "jun", "jul", "aug", "sep", "sept", "oct",
    "nov", "dec", "u.s", "u.s.a", "d.c", "f.supp", "f.2d", "f.3d", "s.ct",
    "l.ed", "u.k", "p.m", "a.m",
}

# Candidate boundary: sentence punctuation (+ optional closing quote/bracket)
# followed by whitespace and a plausible sentence opener.
_BOUNDARY_RE = re.compile(
    r"""
    ([.!?]+)            # terminal punctuation run
    (["'\)\]]*)         # optional closing quotes / brackets
    (\s+)               # inter-sentence whitespace
    (?=["'\(\[]?[A-Z0-9])  # next sentence opener
    """,
    re.VERBOSE,
)

_WORD_BEFORE_RE = re.compile(r"([A-Za-z][A-Za-z.]*)\Z")


def _is_abbreviation(text_before: str) -> bool:
    """True if the token immediately before the period is an abbreviation
    or a single-letter initial."""
    m = _WORD_BEFORE_RE.search(text_before)
    if not m:
        return False
    w = m.group(1).rstrip(".").lower()
    if len(w) == 1:  # initials: "J. Doe", "E. Warren"
        return True
    return w in _ABBREVS


def split_sentences(text: str) -> list[str]:
    """Split ``text`` into sentences; whitespace-only input → []."""
    if not text or not text.strip():
        return []
    sentences: list[str] = []
    start = 0
    for m in _BOUNDARY_RE.finditer(text):
        punct_end = m.end(2)  # after punctuation + closing quotes
        before = text[start : m.start(1)]
        # "3.14" style decimals have no whitespace requirement issue here
        # because the boundary regex demands whitespace after the period —
        # but "No. 5" style abbreviations do, so check the preceding word.
        if m.group(1).startswith(".") and _is_abbreviation(before):
            continue
        seg = text[start:punct_end].strip()
        if seg:
            sentences.append(seg)
        start = m.end(3)
    tail = text[start:].strip()
    if tail:
        sentences.append(tail)
    return sentences


# --- DuckDB twin -----------------------------------------------------------

#: Longest-first so RE2's leftmost-first alternation picks the full
#: multi-dot abbreviation before its prefix (u.s.a before u.s before v).
ABBREV_SQL = (
    r"u\.s\.a|u\.s|u\.k|d\.c|f\.supp|f\.2d|f\.3d|s\.ct|l\.ed|p\.m|a\.m"
    r"|e\.g|i\.e"
    r"|mrs|ms|mr|dr|prof|rev|hon|jr|sr|st|vs|v|etc|cf|al|inc|ltd|co|corp"
    r"|nos|no|vol|ch|sec|fig|art|approx|dept|est"
    r"|jan|feb|mar|apr|jun|jul|aug|sept|sep|oct|nov|dec"
    r"|[A-Za-z]"
)


def split_sentences_sql(expr: str) -> str:
    """DuckDB list-of-sentences twin of :func:`split_sentences`.

    RE2 has no lookaround, so the algorithm is staged rewriting with
    sentinel characters ('#' for a suppressed '.', \\x02 for '!', \\x03
    for '?', '@' for a sentence boundary — all of which must be absent
    from the input; the fixture content contract pins that):

    1. protect abbreviation/initial final-dots, guarded by
       ``(^|[^A-Za-z.])`` so the token before the dot is a WHOLE word —
       the mirror of _WORD_BEFORE's maximal letters-and-dots run;
    2. three extension passes suppress the rest of a punctuation run
       that follows a protected dot ('etc..', 'etc.!' — Python skips the
       entire run when it starts with an abbreviation dot); bounded, so
       runs of >4 marks after an abbreviation would diverge (unseen in
       any realistic corpus, and the parity fuzz test caps there);
    3. mark boundaries (punct run + closing quotes + whitespace +
       opener), re-inserting the captured opener since consecutive
       boundaries never overlap;
    4. split on the marker, restore sentinels, trim the ASCII whitespace
       set Python's strip() uses (DuckDB's bare trim removes only
       spaces), drop empties.

    Known divergence: Python ``\\s`` is Unicode-aware; this twin handles
    ASCII whitespace only.  Verified equivalent on 4000 fuzz cases
    (tests/test_sentences_sql_parity.py).
    """
    out = (
        f"regexp_replace({expr}, '(^|[^A-Za-z.])((?i:{ABBREV_SQL}))\\.', "
        "'\\1\\2#', 'g')"
    )
    for _ in range(3):
        out = f"regexp_replace({out}, e'([#\\x02\\x03])\\\\.', e'\\\\1#', 'g')"
        out = f"regexp_replace({out}, e'([#\\x02\\x03])!', e'\\\\1\\x02', 'g')"
        out = f"regexp_replace({out}, e'([#\\x02\\x03])\\\\?', e'\\\\1\\x03', 'g')"
    out = (
        f"regexp_replace({out}, "
        "'([.!?]+[\"'')\\]]*)[ \\t\\n\\r\\f\\x0B]+([\"''(\\[]?[A-Z0-9])', "
        "'\\1@\\2', 'g')"
    )
    return (
        f"list_filter(list_transform(string_split({out}, '@'), "
        "s -> trim(replace(replace(replace(s, '#', '.'), "
        "e'\\x02', '!'), e'\\x03', '?'), e' \\t\\n\\r\\x0B\\x0C')), "
        "s -> s <> '')"
    )
